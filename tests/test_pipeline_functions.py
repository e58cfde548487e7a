"""Tests for training-pipeline operators: dedup, similarity, text analysis,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_exact_dedup(spark):
    from rtfproc_spark.functions.dedup import exact_dedup_groups

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "doc_id long, text string"
    )
    out = {r["keep_id"]: r["n_dupes"] for r in exact_dedup_groups(df).collect()}
    assert out == {1: 3, 2: 1}


def test_minhash_finds_planted_near_dupes(spark):
    from rtfproc_spark.functions.dedup import minhash_candidates

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tonight")
    far = "completely different words in this one with no overlap at all whatsoever"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], "doc_id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in minhash_candidates(df).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # near dup
    assert (1, 3) not in pairs and (3, 4) not in pairs


def test_simhash_stability_and_similarity(spark):
    from rtfproc_spark.functions.dedup import simhash_signature_df

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "xyzzy qwerty")],
        "doc_id long, text string",
    )
    sig = {r["id"]: r["simhash"] for r in simhash_signature_df(df).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]
    # deterministic across runs
    sig2 = {r["id"]: r["simhash"] for r in simhash_signature_df(df).collect()}
    assert sig == sig2


def test_cosine_topk_matches_numpy(spark, emb):
    from rtfproc_spark.functions.similarity import brute_force_topk

    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in rows}
    q = vecs[0]

    def cos(a, b):
        return float(np.dot(a, b) / max(np.linalg.norm(a) * np.linalg.norm(b), 1e-12))

    want = sorted(
        ((round(cos(q, v), 4), -k) for k, v in vecs.items()), reverse=True
    )[:10]
    want_ids = [-k for _, k in want]
    got = brute_force_topk(emb, q.tolist(), k=10).collect()
    assert [r["vec_id"] for r in got] == want_ids


def test_lsh_topk_contains_query_vector(spark, emb):
    from rtfproc_spark.functions.similarity import lsh_bucket_topk

    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = lsh_bucket_topk(emb, q, k=5, bits=4).collect()
    # the query vector itself is in its own bucket and is its own nearest
    assert got[0]["vec_id"] == 0
    assert got[0]["cosine"] == 1.0


def test_embedding_near_pairs(spark):
    from rtfproc_spark.functions.similarity import all_pairs_near

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(3)] + [
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.01, 0.999, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in all_pairs_near(df, threshold=0.99).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (10, 11) in pairs
    assert not any(a < 3 <= 10 <= b for a, b in pairs if a < 3 and b >= 10)


def test_connected_components_chain_and_keeplist(spark):
    """Min-label propagation must converge across multi-hop chains (the
    worst case for per-round min-joins: a path graph needs several rounds,
    not one) and the keep policy must keep exactly one doc per cluster plus
    every singleton."""
    from rtfproc_spark.functions.dedup import connected_components, dedup_keep_list

    # chain 1-2-3-4-5 (one component, diameter 4), pair {10,11}, singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 20]], "doc_id long")
    keep = {r["id"]: (r["component"], r["keep"]) for r in dedup_keep_list(docs, pairs).collect()}
    assert keep[20] == (20, True)  # singleton keeps itself
    assert [k for k, (_, kp) in keep.items() if kp] == sorted(
        {c for c, _ in keep.values()}
    )
    assert sum(1 for _, kp in keep.values() if kp) == 3  # {1..5}, {10,11}, {20}


def test_connected_components_hypothesis_differential(spark):
    """Random edge sets vs a brute-force union-find: components must agree
    on arbitrary graph shapes (cycles, stars, cross-links), not just the
    chain pinned above."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rtfproc_spark.functions.dedup import connected_components

    edge = st.tuples(st.integers(0, 14), st.integers(0, 14))

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(edge, min_size=1, max_size=20))
    def check(edges):
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["id"]: r["component"] for r in connected_components(df).collect()
        }
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {n for e in edges for n in e}
        groups = {}
        for n in nodes:
            groups.setdefault(find(n), []).append(n)
        want = {n: min(ms) for ms in groups.values() for n in ms}
        assert got == want

    check()


def test_pack_bins_edges(spark):
    """Running-total packing edge cases: a document larger than the budget
    gets its own bin (and pushes the next doc onward, exactly like a
    sequential packer fed in the same order), exact-boundary cumsums roll
    to the next bin, and groups pack independently."""
    from rtfproc_spark.functions.text import pack_bins

    rows = [
        # group g: sizes 300, 300 (crosses 512 at doc 2), 9000 (giant), 10
        ("g", 1, 300),
        ("g", 2, 300),
        ("g", 3, 9000),
        ("g", 4, 10),
        # group h: exact boundary 512 then 1
        ("h", 1, 512),
        ("h", 2, 1),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    # num_shards=1 collapses two-phase packing to the sequential semantics
    # these edge cases pin (one shard == one running total per group)
    out = {
        (r["lang"], r["doc_id"]): r["pack_bin"]
        for r in pack_bins(df, group_cols=["lang"], num_shards=1).collect()
    }
    assert out[("g", 1)] == 0  # cum_before 0
    assert out[("g", 2)] == 0  # cum_before 300
    assert out[("g", 3)] == 1  # cum_before 600
    assert out[("g", 4)] == 18  # cum_before 9600 — giant doc spilled past
    assert out[("h", 1)] == 0
    assert out[("h", 2)] == 1  # cum_before exactly 512 -> next bin


def test_pack_bins_two_phase_matches_local(spark):
    """The sharded packing must equal a local sequential re-derivation:
    pack each (group, shard) in order, then offset by the exclusive prefix
    sum of per-shard bin counts. Random sizes incl. giants > budget."""
    import random

    from rtfproc_spark.functions.text import pack_bins

    rng = random.Random(7)
    rows = [
        (f"l{rng.randrange(3)}", i, rng.choice([0, 5, 100, 300, 600, 2000]))
        for i in range(400)
    ]
    S, budget = 4, 512
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    got = {
        (r["lang"], r["doc_id"]): r["pack_bin"]
        for r in pack_bins(
            df,
            group_cols=["lang"],
            budget=budget,
            num_shards=S,
            shard_expr=F.pmod(F.col("doc_id"), F.lit(S)),
        ).collect()
    }
    # local re-derivation
    want = {}
    for lang in {r[0] for r in rows}:
        offset = 0
        for shard in range(S):
            docs = sorted(
                (r for r in rows if r[0] == lang and r[1] % S == shard),
                key=lambda r: r[1],
            )
            cum = 0
            last_bin = -1
            for _, doc_id, size in docs:
                b = cum // budget
                want[(lang, doc_id)] = offset + b
                cum += size
                last_bin = b
            offset += last_bin + 1
    assert got == want


def test_pack_bins_two_phase_hypothesis(spark):
    """Shrinking random corpora vs the local sequential re-derivation:
    arbitrary sizes (zeros, giants), sparse shards, single-doc groups."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rtfproc_spark.functions.text import pack_bins

    doc = st.tuples(
        st.integers(0, 1),  # lang index
        st.sampled_from([0, 1, 100, 511, 512, 513, 5000]),
    )

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(doc, min_size=1, max_size=40))
    def check(docs):
        S, budget = 3, 512
        rows = [(f"l{l}", i, n) for i, (l, n) in enumerate(docs)]
        df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
        got = {
            (r["lang"], r["doc_id"]): r["pack_bin"]
            for r in pack_bins(
                df,
                group_cols=["lang"],
                budget=budget,
                num_shards=S,
                shard_expr=F.pmod(F.col("doc_id"), F.lit(S)),
            ).collect()
        }
        want = {}
        for lang in {r[0] for r in rows}:
            offset = 0
            for shard in range(S):
                sh = sorted(
                    (r for r in rows if r[0] == lang and r[1] % S == shard),
                    key=lambda r: r[1],
                )
                cum, last_bin = 0, -1
                for _, doc_id, size in sh:
                    b = cum // budget
                    want[(lang, doc_id)] = offset + b
                    cum += size
                    last_bin = b
                offset += last_bin + 1
        assert got == want

    check()


def test_connected_components_raises_on_non_convergence(spark):
    """A chain with diameter > max_iters must raise, not silently return
    split clusters (the keep policy would keep extra near-duplicates)."""
    import pytest as _pytest

    from rtfproc_spark.functions.dedup import connected_components

    chain = [(i, i + 1) for i in range(10)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    # force the ITERATIVE path (small_graph_edges=0): the loud-failure
    # contract is the loop's — the round-9 small-graph union-find gate
    # computes exact components in one task and cannot fail to converge
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=2, small_graph_edges=0)
    # and the same graph converges fine with enough rounds
    ok = connected_components(pairs, max_iters=20, small_graph_edges=0).collect()
    assert {r["component"] for r in ok} == {0}


def test_hash_split_deterministic_and_covering(spark):
    """hash_split is a pure function of the id: same bucket regardless of
    partitioning, every bucket in [0,100), and the 80/10/10 split labels
    partition the corpus."""
    from rtfproc_spark.functions.text import hash_split, split_name

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {
        r["doc_id"]: (r["b"], r["s"])
        for r in docs.select(
            "doc_id", hash_split("doc_id").alias("b"), split_name(hash_split("doc_id")).alias("s")
        ).collect()
    }
    b = {
        r["doc_id"]: (r["b"], r["s"])
        for r in docs.repartition(7)
        .select(
            "doc_id", hash_split("doc_id").alias("b"), split_name(hash_split("doc_id")).alias("s")
        )
        .collect()
    }
    assert a == b
    assert all(0 <= v[0] < 100 for v in a.values())
    frac_train = sum(1 for v in a.values() if v[1] == "train") / len(a)
    assert 0.7 < frac_train < 0.9  # ~80% within corpus-level tolerance


def test_band_buckets_dim_mismatch_raises(spark):
    """A wrong explicit dim must fail fast, not silently return 0 rows
    (ADVICE r2): the bucket UDF raises when vector length != plane dim."""
    from rtfproc_spark.functions.similarity import all_pairs_near

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="hyperplane dim"):
        all_pairs_near(df, dim=8, persist=False).collect()


def test_lang_id_on_labeled_text(spark):
    from rtfproc_spark.functions.text import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is happy"),
            (2, "der Hund ist nicht da und die Katze"),
            (3, "le chat est sur la table et les chiens"),
            (4, "zzz qqq www"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["lid"] for r in df.select("id", lang_id("text").alias("lid")).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "und"


def test_quality_and_fingerprint(spark, docs):
    from rtfproc_spark.functions.text import fingerprint, quality_score, token_count

    out = docs.select(
        "doc_id",
        quality_score("text").alias("q"),
        fingerprint("text").alias("fp"),
        token_count("text").alias("tc"),
    )
    rows = out.collect()
    assert all(r["q"] is not None and 0.0 <= r["q"] <= 1.0 for r in rows)
    # fingerprint is whitespace-normalization invariant
    df2 = spark.createDataFrame([(1, "a  b\tc"), (2, "a b c")], "id long, text string")
    fps = [r["fp"] for r in df2.select(fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_dup_ngram_coverage_differential(spark):
    """Gopher top-n-gram duplicate-coverage rule (the per-row sort+run-scan
    implementation) vs a Python brute force — max over distinct n-grams of
    occurrences x chars / text chars — on crafted and random texts."""
    import random

    from rtfproc_spark.functions.text import repetition_quality

    rng = random.Random(3)
    texts = [
        " ".join(f"word{i}" for i in range(60)),  # long, no repetition
        "spam spam spam spam spam",         # degenerate repetition
        "a b a b a b a b c",                # alternating 2-gram
        "one two",                          # fewer tokens than n=3, n=4
        "solo",                             # single token: all covs 0
        "",                                 # empty text
    ] + [
        " ".join(rng.choice(["aa", "bb", "cc", "dd", "eee"]) for _ in range(rng.randrange(1, 40)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in df.select("doc_id", *repetition_quality("text")).collect()
    }

    def brute(text, n):
        toks = text.split(" ")  # str.split(' ') keeps empties, like F.split
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        if not grams:
            return 0.0
        best = max(grams.count(g) * len(g) for g in set(grams))
        # clamped: occurrences x chars overcounts overlapping occurrences
        return round(min(best / max(len(text), 1), 1.0), 4)

    for i, t in enumerate(texts):
        for n in (2, 3, 4):
            got = rows[i][f"dup_{n}gram_frac"]
            want = brute(t, n)
            assert abs(got - want) < 5e-5, (i, n, got, want, t[:40])
    # the repetition rules must actually bite somewhere
    assert rows[1]["dup_2gram_frac"] > 0.2 and not rows[1]["quality_pass"]
    assert rows[0]["dup_2gram_frac"] <= 0.2


def test_multimodal_decode_plumbing(spark):
    from rtfproc_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        frame_sample_plan,
        synth_media_pdf,
    )

    pdf = synth_media_pdf(48)
    df = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    decoded = decode_media(df).collect()
    assert len(decoded) == 48
    ok = [r for r in decoded if r["decode_error"] is None]
    bad = [r for r in decoded if r["decode_error"] is not None]
    assert all(len(r["features"]) == 16 for r in ok)
    # rejects: empty payloads (no decoder) or malformed recognized magic
    assert all(
        r["n_bytes"] == 0 or r["decode_error"].startswith("BadMedia") for r in bad
    )
    # image rows are REAL rasters now: their features carry actual
    # dimensions (f0=w, f1=h) matching the typed metadata columns
    by_id = {r["media_id"]: r for r in decoded}
    img_rows = pdf[pdf["kind"] == "image"]
    assert len(img_rows) and all(
        by_id[r.media_id]["features"][0] == r.width
        and by_id[r.media_id]["features"][1] == r.height
        for r in img_rows.itertuples(index=False)
    )
    # determinism
    again = decode_media(df).collect()
    assert {r["media_id"]: r["sha256"] for r in decoded} == {
        r["media_id"]: r["sha256"] for r in again
    }
    frames = frame_sample_plan(df, every_ms=1000)
    fcount = frames.groupBy("media_id").count().collect()
    assert all(r["count"] == 5 for r in fcount)  # 5000ms / 1000ms


def test_image_decode_real_formats():
    """PPM/PGM/BMP decoding is REAL: known 2x2 rasters round-trip through
    the writers and produce exact pixel-derived features; malformed inputs
    of a recognized format raise ValueError (surfaced as decode_error)."""
    import numpy as np
    import pytest as _pytest

    from rtfproc_spark.functions.multimodal import (
        _parse_bmp,
        _parse_pnm,
        encode_bmp,
        encode_ppm,
        payload_features,
    )

    img = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]],
        dtype=np.uint8,
    )
    for enc, dec in ((encode_ppm, _parse_pnm), (encode_bmp, _parse_bmp)):
        assert (dec(enc(img)) == img).all()
        f = payload_features(enc(img))
        assert list(f[:3]) == [2.0, 2.0, 3.0]
        assert f[5] == 0.0 and f[6] == 1.0  # min/max samples
        assert abs(f[3] - (6 * 255 / 12) / 255.0) < 1e-6  # mean = half on
        assert abs(sum(f[8:16]) - 1.0) < 1e-6  # histogram normalized
    gray = np.arange(4, dtype=np.uint8).reshape(2, 2, 1)
    assert (_parse_pnm(encode_ppm(gray)) == gray).all()  # P5 path
    # PNM comments + arbitrary whitespace in the header
    hdr = b"P5 # comment\n# another\n 2\t2\n255\n" + bytes(4)
    assert _parse_pnm(hdr).shape == (2, 2, 1)
    with _pytest.raises(ValueError, match="truncated PNM raster"):
        _parse_pnm(b"P6\n4 4\n255\n\x00\x00")
    with _pytest.raises(ValueError, match="16-bit"):
        _parse_pnm(b"P5\n1 1\n65535\n\x00\x00")
    with _pytest.raises(ValueError, match="truncated BMP"):
        _parse_bmp(b"BM\x00\x00")
    with _pytest.raises(ValueError, match="24-bit"):
        _parse_bmp(encode_bmp(img)[:28] + (8).to_bytes(2, "little") + encode_bmp(img)[30:])


def test_match_sequence_semantics_and_differential(spark):
    """CEP sequence matcher: (1) pinned semantics on a hand-built trace —
    first-match-after per step, window anchored at step 1, overlapping
    anchors, id tiebreak on simultaneous events; (2) random-trace
    differential vs a brute-force Python scan."""
    import random
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import match_sequence

    t0 = datetime(2024, 1, 1)

    def ev(eid, user, typ, minutes):
        return (eid, user, typ, t0 + timedelta(minutes=minutes))

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    trace = [
        # user 1: A@0 -> B@5 -> C@8 completes; second B@6 ignored
        # (first-match-after), A@7 anchors again -> no B after it -> drops
        ev(1, 1, "A", 0),
        ev(2, 1, "B", 5),
        ev(3, 1, "B", 6),
        ev(4, 1, "C", 8),
        ev(5, 1, "A", 7),
        # user 2: B before A never matches; C outside the window drops
        ev(6, 2, "B", 0),
        ev(7, 2, "A", 1),
        ev(8, 2, "B", 3),
        ev(9, 2, "C", 200),
        # user 3: simultaneous Bs -> lower event_id wins the tiebreak
        ev(10, 3, "A", 0),
        ev(12, 3, "B", 2),
        ev(11, 3, "B", 2),
        ev(13, 3, "C", 4),
    ]
    df = spark.createDataFrame(trace, schema)
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]
    got = {
        (r["user_id"], r["id_1"]): (r["id_2"], r["id_3"])
        for r in match_sequence(
            df, steps, ["user_id"], within="30 minutes"
        ).collect()
    }
    assert got == {(1, 1): (2, 4), (3, 10): (11, 13)}

    def brute(events, within_min=30):
        out = {}
        by_user = {}
        for e in events:
            by_user.setdefault(e[1], []).append(e)
        for user, evs in by_user.items():
            evs = sorted(evs, key=lambda e: (e[3], e[0]))
            for a in (e for e in evs if e[2] == "A"):
                limit = a[3] + timedelta(minutes=within_min)
                prev_t, prev_id = a[3], a[0]
                ids = []
                for typ in ("B", "C"):
                    nxt = min(
                        (
                            e
                            for e in evs
                            if e[2] == typ
                            and (e[3], e[0]) > (prev_t, prev_id)
                            and e[3] > prev_t
                            and e[3] <= limit
                        ),
                        key=lambda e: (e[3], e[0]),
                        default=None,
                    )
                    if nxt is None:
                        ids = None
                        break
                    prev_t, prev_id = nxt[3], nxt[0]
                    ids.append(nxt[0])
                if ids:
                    out[(user, a[0])] = tuple(ids)
        return out

    assert brute(trace) == got

    rng = random.Random(5)
    rand = [
        (
            i,
            rng.randrange(4),
            rng.choice("ABC"),
            t0 + timedelta(minutes=rng.randrange(120)),
        )
        for i in range(300)
    ]
    rdf = spark.createDataFrame(rand, schema)
    rgot = {
        (r["user_id"], r["id_1"]): (r["id_2"], r["id_3"])
        for r in match_sequence(
            rdf, steps, ["user_id"], within="30 minutes"
        ).collect()
    }
    assert rgot == brute(rand)


def test_match_sequence_negation(spark):
    """CEP negation (notFollowedBy): a completed funnel is dropped when a
    forbidden event falls strictly inside (anchor, final step); forbidden
    events outside that open interval do not kill the match."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import match_sequence

    t0 = datetime(2024, 1, 1)

    def ev(eid, user, typ, minutes):
        return (eid, user, typ, t0 + timedelta(minutes=minutes))

    trace = [
        # user 1: A@0 B@5 C@8 with error@6 inside -> dropped
        ev(1, 1, "A", 0),
        ev(2, 1, "B", 5),
        ev(3, 1, "E", 6),
        ev(4, 1, "C", 8),
        # user 2: clean A@0 B@2 C@4; error at exactly ts_3 (boundary, kept)
        # and before the anchor (kept)
        ev(5, 2, "E", -1),
        ev(6, 2, "A", 0),
        ev(7, 2, "B", 2),
        ev(8, 2, "C", 4),
        ev(9, 2, "E", 4),
    ]
    df = spark.createDataFrame(
        trace, "event_id long, user_id long, event_type string, ts timestamp"
    )
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]
    got = {
        (r["user_id"], r["id_1"])
        for r in match_sequence(
            df,
            steps,
            ["user_id"],
            within="30 minutes",
            forbid=F.col("event_type") == "E",
        ).collect()
    }
    assert got == {(2, 6)}
    # without negation both complete
    base = {
        (r["user_id"], r["id_1"])
        for r in match_sequence(df, steps, ["user_id"], within="30 minutes").collect()
    }
    assert base == {(1, 1), (2, 6)}


def test_match_sequence_null_rows_dropped(spark):
    """Contract-violating rows (null ts or null id) are ignored by the batch
    matcher — the same treatment the stream twin's dropna applies — instead
    of flowing into the anchor groupBy with an ill-defined tiebreak."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import match_sequence

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 1, "A", t0),
        (None, 1, "A", t0),  # null id: must not anchor
        (2, 1, "B", t0 + timedelta(minutes=1)),
        (3, 1, "B", None),  # null ts: must not advance
        (4, 1, "C", t0 + timedelta(minutes=2)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]
    got = [
        (r["id_1"], r["id_2"], r["id_3"])
        for r in match_sequence(df, steps, ["user_id"], within="30 minutes").collect()
    ]
    assert got == [(1, 2, 4)]


def test_match_sequence_step_gap(spark):
    """Per-transition bound: step k must land within step_within of step
    k-1 even when the anchor window would allow it."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import match_sequence

    t0 = datetime(2024, 1, 1)

    def ev(eid, user, typ, minutes):
        return (eid, user, typ, t0 + timedelta(minutes=minutes))

    trace = [
        # user 1: A@0 B@4 C@7 — all gaps <= 5min -> match
        ev(1, 1, "A", 0),
        ev(2, 1, "B", 4),
        ev(3, 1, "C", 7),
        # user 2: A@0 B@10 C@12 — A->B gap 10 > 5 -> no match with gap
        # bound, but matches under the 30min anchor window alone
        ev(4, 2, "A", 0),
        ev(5, 2, "B", 10),
        ev(6, 2, "C", 12),
    ]
    df = spark.createDataFrame(
        trace, "event_id long, user_id long, event_type string, ts timestamp"
    )
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]
    loose = {
        r["user_id"]
        for r in match_sequence(df, steps, ["user_id"], within="30 minutes").collect()
    }
    tight = {
        r["user_id"]
        for r in match_sequence(
            df, steps, ["user_id"], within="30 minutes", step_within="5 minutes"
        ).collect()
    }
    assert loose == {1, 2} and tight == {1}


def test_match_sequence_optional_and_counts(spark):
    """CEP quantifiers: (1) optional step (B?) — taken iff its earliest
    candidate precedes the closer's earliest candidate (no-lookahead greedy,
    shared with the stream twin), ties skip; (2) CountBetween (B{m,n}) —
    open-interval count between two matched steps, emitted and bounded.
    Pinned on a hand trace, then a random differential vs a Python brute
    force of the same rules."""
    import random
    from datetime import datetime, timedelta

    import pytest as _pytest

    from rtfproc_spark.operators.cep import CountBetween, match_sequence

    t0 = datetime(2024, 1, 1)

    def ev(eid, user, typ, minutes):
        return (eid, user, typ, t0 + timedelta(minutes=minutes))

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    trace = [
        # u1: B between A and C -> taken
        ev(1, 1, "A", 0), ev(2, 1, "B", 2), ev(3, 1, "C", 5),
        # u2: earliest C precedes earliest B -> skipped, C binds
        ev(4, 2, "A", 0), ev(5, 2, "C", 3), ev(6, 2, "B", 4),
        # u3: B and C simultaneous -> strict < fails, skipped
        ev(7, 3, "A", 0), ev(8, 3, "B", 2), ev(9, 3, "C", 2),
        # u4: B but no C -> no match (closer is required)
        ev(10, 4, "A", 0), ev(11, 4, "B", 2),
    ]
    df = spark.createDataFrame(trace, schema)
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]
    got = {
        r["user_id"]: (r["id_1"], r["id_2"], r["id_3"])
        for r in match_sequence(
            df, steps, ["user_id"], within="30 minutes", optional_steps={2}
        ).collect()
    }
    assert got == {1: (1, 2, 3), 2: (4, None, 5), 3: (7, None, 9)}

    # count quantifier: 1..2 Bs strictly between A and C (open interval)
    ctrace = [
        ev(1, 1, "A", 0), ev(2, 1, "B", 1), ev(3, 1, "B", 2), ev(4, 1, "C", 5),
        ev(5, 2, "A", 0), ev(6, 2, "C", 5),                       # 0 Bs: drop
        ev(7, 3, "A", 0), ev(8, 3, "B", 1), ev(9, 3, "B", 2),
        ev(10, 3, "B", 3), ev(11, 3, "C", 5),                     # 3 Bs: drop
        # boundary: Bs at exactly ts_A and ts_C are OUTSIDE the open interval
        ev(12, 4, "A", 0), ev(13, 4, "B", 0), ev(14, 4, "B", 3),
        ev(15, 4, "B", 5), ev(16, 4, "C", 5),
    ]
    cdf = spark.createDataFrame(ctrace, schema)
    spec = CountBetween(
        pred=F.col("event_type") == "B", lo_step=1, hi_step=2,
        min_n=1, max_n=2, name="b",
    )
    cgot = {
        r["user_id"]: (r["id_1"], r["id_2"], r["n_b"])
        for r in match_sequence(
            cdf,
            [F.col("event_type") == "A", F.col("event_type") == "C"],
            ["user_id"],
            within="30 minutes",
            counts=[spec],
        ).collect()
    }
    assert cgot == {1: (1, 4, 2), 4: (12, 16, 1)}

    # validation
    with _pytest.raises(ValueError, match="anchor"):
        match_sequence(df, steps, ["user_id"], optional_steps={1})
    with _pytest.raises(ValueError, match="step_within"):
        match_sequence(
            df, steps, ["user_id"], optional_steps={2}, step_within="5 minutes"
        )
    with _pytest.raises(ValueError, match="non-optional"):
        match_sequence(
            df, steps, ["user_id"], optional_steps={2},
            counts=[CountBetween(pred=steps[0], lo_step=2, hi_step=3)],
        )

    # random differential: A B? C with an error-count bound, vs brute force
    rng = random.Random(11)
    rand = [
        (
            i,
            rng.randrange(5),
            rng.choice("ABCE"),
            t0 + timedelta(minutes=rng.randrange(90)),
        )
        for i in range(400)
    ]
    rdf = spark.createDataFrame(rand, schema)
    rgot = {
        (r["user_id"], r["id_1"]): (r["id_2"], r["id_3"], r["n_err"])
        for r in match_sequence(
            rdf,
            steps,
            ["user_id"],
            within="30 minutes",
            optional_steps={2},
            counts=[
                CountBetween(
                    pred=F.col("event_type") == "E",
                    lo_step=1, hi_step=3, min_n=0, max_n=1, name="err",
                )
            ],
        ).collect()
    }

    def brute(events, within_min=30, max_err=1):
        out = {}
        by_user = {}
        for e in events:
            by_user.setdefault(e[1], []).append(e)
        for user, evs in by_user.items():
            for a in (e for e in evs if e[2] == "A"):
                limit = a[3] + timedelta(minutes=within_min)

                def first(typ):
                    return min(
                        (e for e in evs
                         if e[2] == typ and a[3] < e[3] <= limit),
                        key=lambda e: (e[3], e[0]),
                        default=None,
                    )

                b, c = first("B"), first("C")
                if c is None:
                    continue
                taken = b is not None and b[3] < c[3]
                n_err = sum(
                    1 for e in evs if e[2] == "E" and a[3] < e[3] < c[3]
                )
                if n_err > max_err:
                    continue
                out[(user, a[0])] = (b[0] if taken else None, c[0], n_err)
        return out

    assert rgot == brute(rand)


def test_match_sequence_sessionized(spark):
    """Gap-bounded funnel: the pattern must complete inside one session
    (any event keeps the session alive; a > gap quiet period splits).
    Pinned on a hand trace where the fixed-window matcher would keep
    matching across the quiet gap, then a random differential vs a brute
    force that sessionizes and matches per session."""
    import random
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import match_sequence_sessionized

    t0 = datetime(2024, 1, 1)

    def ev(eid, user, typ, minutes):
        return (eid, user, typ, t0 + timedelta(minutes=minutes))

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    trace = [
        # u1: A@0 B@5, 40-minute silence, C@45 -> session split, NO match
        ev(1, 1, "A", 0), ev(2, 1, "B", 5), ev(3, 1, "C", 45),
        # u2: same spacing but a keepalive noise event bridges the gap
        ev(4, 2, "A", 0), ev(5, 2, "B", 5), ev(6, 2, "N", 25), ev(7, 2, "C", 45),
        # u3: whole funnel inside one tight session
        ev(8, 3, "A", 100), ev(9, 3, "B", 101), ev(10, 3, "C", 102),
    ]
    df = spark.createDataFrame(trace, schema)
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]
    got = {
        (r["user_id"], r["id_1"], r["id_2"], r["id_3"], r["session_id"])
        for r in match_sequence_sessionized(
            df, steps, ["user_id"], gap="30 minutes"
        ).collect()
    }
    assert got == {(2, 4, 5, 7, 1), (3, 8, 9, 10, 1)}

    rng = random.Random(23)
    rand = [
        (
            i,
            rng.randrange(4),
            rng.choice("ABCN"),
            t0 + timedelta(minutes=rng.randrange(600)),
        )
        for i in range(250)
    ]
    rdf = spark.createDataFrame(rand, schema)
    rgot = {
        (r["user_id"], r["id_1"], r["id_2"], r["id_3"])
        for r in match_sequence_sessionized(
            rdf, steps, ["user_id"], gap="10 minutes"
        ).collect()
    }

    def brute(events, gap_min=10):
        out = set()
        by_user = {}
        for e in events:
            by_user.setdefault(e[1], []).append(e)
        for user, evs in by_user.items():
            evs = sorted(evs, key=lambda e: (e[3], e[0]))
            sessions, cur = [], [evs[0]]
            for e in evs[1:]:
                if e[3] > cur[-1][3] + timedelta(minutes=gap_min):
                    sessions.append(cur)
                    cur = [e]
                else:
                    cur.append(e)
            sessions.append(cur)
            for sess in sessions:
                for a in (e for e in sess if e[2] == "A"):
                    prev_t, ids = a[3], [a[0]]
                    for typ in ("B", "C"):
                        nxt = min(
                            (e for e in sess if e[2] == typ and e[3] > prev_t),
                            key=lambda e: (e[3], e[0]),
                            default=None,
                        )
                        if nxt is None:
                            ids = None
                            break
                        prev_t = nxt[3]
                        ids.append(nxt[0])
                    if ids:
                        out.add((user, *ids))
        return out

    assert rgot == brute(rand)


def test_match_sequence_hypothesis_differential(spark):
    """Shrinking random traces vs the brute-force scan: arbitrary event
    orders, duplicate timestamps, interleaved users, windows that clip."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rtfproc_spark.operators.cep import match_sequence

    t0 = datetime(2024, 1, 1)
    event = st.tuples(
        st.integers(0, 2),  # user
        st.sampled_from(["A", "B", "C"]),
        st.integers(0, 90),  # minutes
    )

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(event, min_size=2, max_size=30))
    def check(evs):
        trace = [
            (i, u, typ, t0 + timedelta(minutes=m))
            for i, (u, typ, m) in enumerate(evs)
        ]
        df = spark.createDataFrame(
            trace, "event_id long, user_id long, event_type string, ts timestamp"
        )
        steps = [F.col("event_type") == s for s in ("A", "B", "C")]
        got = {
            (r["user_id"], r["id_1"]): (r["id_2"], r["id_3"])
            for r in match_sequence(
                df, steps, ["user_id"], within="30 minutes"
            ).collect()
        }
        want = {}
        by_user = {}
        for e in trace:
            by_user.setdefault(e[1], []).append(e)
        for user, uevs in by_user.items():
            uevs = sorted(uevs, key=lambda e: (e[3], e[0]))
            for a in (e for e in uevs if e[2] == "A"):
                limit = a[3] + timedelta(minutes=30)
                prev_t = a[3]
                ids = []
                for typ in ("B", "C"):
                    nxt = min(
                        (
                            e
                            for e in uevs
                            if e[2] == typ and e[3] > prev_t and e[3] <= limit
                        ),
                        key=lambda e: (e[3], e[0]),
                        default=None,
                    )
                    if nxt is None:
                        ids = None
                        break
                    prev_t = nxt[3]
                    ids.append(nxt[0])
                if ids:
                    want[(user, a[0])] = tuple(ids)
        assert got == want

    check()


def test_match_sequence_quantifiers_hypothesis_differential(spark):
    """Shrinking traces for the quantifier semantics: A B? C with a bounded
    E-count — duplicate timestamps (the strict-< optional tie and the
    open-interval count boundaries), clipped windows, interleaved users."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rtfproc_spark.operators.cep import CountBetween, match_sequence

    t0 = datetime(2024, 1, 1)
    event = st.tuples(
        st.integers(0, 1),  # user
        st.sampled_from(["A", "B", "C", "E"]),
        st.integers(0, 60),  # minutes (tight range -> frequent ts ties)
    )

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(event, min_size=2, max_size=24))
    def check(evs):
        trace = [
            (i, u, typ, t0 + timedelta(minutes=m))
            for i, (u, typ, m) in enumerate(evs)
        ]
        df = spark.createDataFrame(
            trace, "event_id long, user_id long, event_type string, ts timestamp"
        )
        got = {
            (r["user_id"], r["id_1"]): (r["id_2"], r["id_3"], r["n_err"])
            for r in match_sequence(
                df,
                [F.col("event_type") == s for s in ("A", "B", "C")],
                ["user_id"],
                within="30 minutes",
                optional_steps={2},
                counts=[
                    CountBetween(
                        pred=F.col("event_type") == "E",
                        lo_step=1, hi_step=3, min_n=0, max_n=1, name="err",
                    )
                ],
            ).collect()
        }
        want = {}
        by_user = {}
        for e in trace:
            by_user.setdefault(e[1], []).append(e)
        for user, uevs in by_user.items():
            for a in (e for e in uevs if e[2] == "A"):
                limit = a[3] + timedelta(minutes=30)

                def first(typ):
                    return min(
                        (e for e in uevs
                         if e[2] == typ and a[3] < e[3] <= limit),
                        key=lambda e: (e[3], e[0]),
                        default=None,
                    )

                b, c = first("B"), first("C")
                if c is None:
                    continue
                taken = b is not None and b[3] < c[3]
                n_err = sum(
                    1 for e in uevs if e[2] == "E" and a[3] < e[3] < c[3]
                )
                if n_err > 1:
                    continue
                want[(user, a[0])] = (b[0] if taken else None, c[0], n_err)
        assert got == want

    check()


def test_asof_join(spark):
    from rtfproc_spark.operators.joins import asof_join

    import datetime as dt

    t = dt.datetime(2024, 1, 1)

    def ts(m):
        return t + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [("u1", ts(10)), ("u1", ts(20)), ("u2", ts(5)), ("u3", ts(1)), ("u3", ts(1))],
        "user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", ts(8), "a"),
            ("u1", ts(15), "b"),
            ("u2", ts(9), "c"),
            # equal-timestamp tie: lowest tag must win deterministically
            ("u3", ts(1), "z"),
            ("u3", ts(1), "y"),
        ],
        "user_id string, ts timestamp, tag string",
    )
    j = asof_join(left, right, "user_id", tiebreak="tag")
    out = j.select("user_id", "ts", F.col("r_tag").alias("tag")).collect()
    by = {}
    for r in out:
        by.setdefault((r["user_id"], r["ts"]), []).append(r["tag"])
    assert by[("u1", ts(10))] == ["a"]
    assert by[("u1", ts(20))] == ["b"]
    assert by[("u2", ts(5))] == [None]  # no earlier right row
    # boundary ts qualifies; tie -> lowest tiebreak; duplicate left rows are
    # both preserved (one output row per input row)
    assert by[("u3", ts(1))] == ["y", "y"]
    # forward direction
    fwd = asof_join(left, right, "user_id", direction="forward", tiebreak="tag")
    fby = {
        (r["user_id"], r["ts"]): r["r_tag"]
        for r in fwd.select("user_id", "ts", "r_tag").collect()
    }
    assert fby[("u1", ts(10))] == "b"
    assert fby[("u2", ts(5))] == "c"
    # scale guard: linear union+window merge — NO join node, and a single
    # shuffle for the window (plus AQE reads); a join-based asof would
    # explode (purchases x earlier clicks) per key
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_asof_join_hot_key(spark):
    """Skew ceiling pin (joins.py docstring): one key carrying 10x the volume
    of every other key still returns exact nearest-at-or-before results —
    the hot key's rows serialize through one window task but the linear
    union+window merge stays O(L+R), no pair blow-up."""
    import datetime as dt

    from rtfproc_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    lrows, rrows = [], []
    for uid, n in [("hot", 400)] + [(f"u{i}", 40) for i in range(10)]:
        for i in range(n):
            lrows.append((uid, t0 + dt.timedelta(seconds=3 * i + 2), i))
            rrows.append((uid, t0 + dt.timedelta(seconds=3 * i), i))
    left = spark.createDataFrame(lrows, "user_id string, ts timestamp, idx int")
    right = spark.createDataFrame(rrows, "user_id string, ts timestamp, rid int")
    out = asof_join(
        left.repartition(8), right.repartition(8), "user_id", tiebreak="rid"
    ).collect()
    assert len(out) == len(lrows)
    # every left row at 3i+2 sees exactly the right row at 3i
    assert all(r["r_rid"] == r["idx"] for r in out)
    # time-bucketed variant: the hot key's 1200s timeline spans 10 "2 minute"
    # buckets, so the merge window partitions by (key, bucket) — the hot key
    # is split across bucket tasks instead of serializing through one —
    # and the output is EXACTLY the single-window form's.
    bucketed = asof_join(
        left.repartition(8),
        right.repartition(8),
        "user_id",
        tiebreak="rid",
        time_bucket="2 minutes",
    )
    bout = bucketed.collect()
    key = lambda r: (r["user_id"], r["ts"], r["idx"], r["r_rid"])  # noqa: E731
    assert sorted(map(key, bout)) == sorted(map(key, out))
    import re

    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(_k#\d+[^)]*_b#", plan), plan[:2000]


def test_asof_join_prefix_collision_raises(spark):
    import pytest as _pytest

    from rtfproc_spark.operators.joins import asof_join

    left = spark.createDataFrame([("u", 1, 1)], "user_id string, ts long, r_tag int")
    right = spark.createDataFrame([("u", 1, 2)], "user_id string, ts long, tag int")
    with _pytest.raises(ValueError, match="collision"):
        asof_join(
            left.withColumn("ts", F.col("ts").cast("timestamp")),
            right.withColumn("ts", F.col("ts").cast("timestamp")),
            "user_id",
        )


def test_salted_agg_equals_plain(spark):
    from rtfproc_spark.operators.skew import salted_agg

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = salted_agg(
        ev, ["event_type"], [("count", None, "n"), ("sum", "value", "s")], 8
    )
    want = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    g = {r["event_type"]: (r["n"], round(r["s"], 4)) for r in got.collect()}
    w = {r["event_type"]: (r["n"], round(r["s"], 4)) for r in want.collect()}
    assert g == w


def test_ann_lsh_recall(spark, emb):
    """Recall evidence for the multi-band ANN path: single-bank sign-LSH has
    a known recall hole (any one straddled hyperplane loses a neighbor);
    OR-ing candidates across banks compounds recall. Pinned at the driver
    query's params on the real corpus."""
    from rtfproc_spark.functions.similarity import brute_force_topk, lsh_bucket_topk

    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in lsh_bucket_topk(emb, q, k=10, bits=4, bands=16).collect()
    }
    assert len(approx & exact) / 10 >= 0.8


def test_ivf_recall(spark):
    """IVF (k-means + nprobe) recall floor on the real corpus: probing 12 of
    16 centroids must recover >= 0.8 of the exact top-10; nprobe=nlist is
    exhaustive by construction."""
    from rtfproc_spark.functions.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    got = {
        r["vec_id"]
        for r in ivf_topk(emb, q, k=10, nlist=16, nprobe=12).collect()
    }
    assert len(got & exact) / 10 >= 0.8


def test_asof_join_hypothesis_differential(spark):
    """Property test for the union+window as-of merge: random small tables
    vs a brute-force per-row reference (nearest right row at-or-before,
    ties by lowest tiebreak)."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rtfproc_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    row = st.tuples(
        st.sampled_from(["u1", "u2", "u3"]), st.integers(0, 12)
    )

    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(row, min_size=1, max_size=8), st.lists(row, min_size=0, max_size=8))
    def check(lrows, rrows):
        left = spark.createDataFrame(
            [(u, t0 + dt.timedelta(minutes=m)) for u, m in lrows],
            "user_id string, ts timestamp",
        )
        right = spark.createDataFrame(
            [(u, t0 + dt.timedelta(minutes=m), f"r{i}") for i, (u, m) in enumerate(rrows)],
            "user_id string, ts timestamp, rid string",
        ) if rrows else spark.createDataFrame([], "user_id string, ts timestamp, rid string")
        got = [
            (r["user_id"], r["ts"], r["r_rid"])
            for r in asof_join(left, right, "user_id", tiebreak="rid").collect()
        ]

        def brute(u, ts):
            cands = [
                (i, m) for i, (ru, m) in enumerate(rrows)
                if ru == u and t0 + dt.timedelta(minutes=m) <= ts
            ]
            if not cands:
                return None
            best_m = max(m for _, m in cands)
            best_i = min(i for i, m in cands if m == best_m)
            return f"r{best_i}"

        want = sorted(
            (u, t0 + dt.timedelta(minutes=m), brute(u, t0 + dt.timedelta(minutes=m)))
            for u, m in lrows
        )
        assert sorted(got) == want

        # bucketed two-phase path must agree exactly (4-minute buckets put
        # the 0..12-minute domain across several buckets, exercising both
        # the in-bucket and the cross-bucket-carry match paths)
        bgot = [
            (r["user_id"], r["ts"], r["r_rid"])
            for r in asof_join(
                left, right, "user_id", tiebreak="rid", time_bucket="4 minutes"
            ).collect()
        ]
        assert sorted(bgot) == want

        # forward direction: nearest right row at-or-AFTER, same tiebreak
        fgot = [
            (r["user_id"], r["ts"], r["r_rid"])
            for r in asof_join(
                left, right, "user_id", direction="forward", tiebreak="rid"
            ).collect()
        ]

        def brute_fwd(u, ts):
            cands = [
                (i, m) for i, (ru, m) in enumerate(rrows)
                if ru == u and t0 + dt.timedelta(minutes=m) >= ts
            ]
            if not cands:
                return None
            best_m = min(m for _, m in cands)
            best_i = min(i for i, m in cands if m == best_m)
            return f"r{best_i}"

        fwant = sorted(
            (u, t0 + dt.timedelta(minutes=m), brute_fwd(u, t0 + dt.timedelta(minutes=m)))
            for u, m in lrows
        )
        assert sorted(fgot) == fwant

        # bucketed FORWARD path: exercises the descending carry direction
        # (first right row of LATER buckets carried back)
        fbgot = [
            (r["user_id"], r["ts"], r["r_rid"])
            for r in asof_join(
                left, right, "user_id", direction="forward",
                tiebreak="rid", time_bucket="4 minutes",
            ).collect()
        ]
        assert sorted(fbgot) == fwant

    check()


def test_session_window_hypothesis_differential(spark):
    """Property test for session_agg: random event sets vs a brute-force
    gap-merge reference (sessions = maximal runs with inter-event gap
    < 30min; end = last event + gap)."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rtfproc_spark.operators.windows import session_agg

    t0 = dt.datetime(2024, 1, 1)
    gap = dt.timedelta(minutes=30)

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        st.lists(
            st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 300)),
            min_size=1,
            max_size=14,
        )
    )
    def check(rows):
        df = spark.createDataFrame(
            [(u, t0 + dt.timedelta(minutes=m)) for u, m in rows],
            "user_id string, ts timestamp",
        )
        got = {
            (r["user_id"], r["session_start"], r["session_end"]): r["n"]
            for r in session_agg(
                df, "ts", ["user_id"], "30 minutes", [F.count(F.lit(1)).alias("n")]
            ).collect()
        }
        want = {}
        for u in {u for u, _ in rows}:
            ts = sorted(t0 + dt.timedelta(minutes=m) for v, m in rows if v == u)
            start, prev, n = ts[0], ts[0], 1
            for t in ts[1:]:
                # Spark merges when the gap is <= the session gap (an event
                # exactly at the previous session's end extends it)
                if t - prev <= gap:
                    n += 1
                else:
                    want[(u, start, prev + gap)] = n
                    start, n = t, 1
                prev = t
            want[(u, start, prev + gap)] = n
        assert got == want

    check()


def test_tumbling_sliding_hypothesis_differential(spark):
    """Property test for tumbling/sliding window assignment vs brute-force
    bucket math (floor-aligned windows; sliding = every window of the given
    duration whose start is a slide multiple covering the event)."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rtfproc_spark.operators.windows import sliding_agg, tumbling_agg

    t0 = dt.datetime(2024, 1, 1)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(st.integers(0, 3600), min_size=1, max_size=12))
    def check(secs):
        df = spark.createDataFrame(
            [(t0 + dt.timedelta(seconds=s),) for s in secs], "ts timestamp"
        )
        got_t = {
            (r["window_start"], r["n"])
            for r in tumbling_agg(
                df, "ts", [], "5 minutes", [F.count(F.lit(1)).alias("n")]
            ).collect()
        }
        want_t = {}
        for s in secs:
            ws = t0 + dt.timedelta(seconds=(s // 300) * 300)
            want_t[ws] = want_t.get(ws, 0) + 1
        assert got_t == set(want_t.items())
        got_s = {
            (r["window_start"], r["n"])
            for r in sliding_agg(
                df, "ts", [], "10 minutes", "5 minutes", [F.count(F.lit(1)).alias("n")]
            ).collect()
        }
        want_s = {}
        for s in secs:
            # windows of 600s sliding by 300s covering second s
            for k in range(s // 300 - 1, s // 300 + 1):
                start = k * 300
                if start <= s < start + 600:
                    ws = t0 + dt.timedelta(seconds=start)
                    want_s[ws] = want_s.get(ws, 0) + 1
        assert got_s == set(want_s.items())

    check()


def test_contamination_hits_differential(spark):
    """Benchmark decontamination vs a Python brute force: distinct shared
    n-grams between each doc and the pooled eval gram set, threshold flag,
    docs shorter than n, and zero-hit docs keeping count 0."""
    import random

    from rtfproc_spark.functions.text import contamination_hits

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 30))))
        for i in range(40)
    ]
    evals = [
        (" ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 15))),)
        for _ in range(10)
    ]
    # plant verbatim eval leakage into a few docs (the case the op exists
    # to catch); every multiple-of-7 doc embeds the first eval text
    docs = [
        (i, f"{t} {evals[0][0]} {t}" if i % 7 == 0 else t) for i, t in docs
    ]
    n, min_hits = 3, 2
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    edf = spark.createDataFrame(evals, "text string")
    got = {
        r["doc_id"]: (r["n_contaminated_grams"], r["contaminated"])
        for r in contamination_hits(ddf, edf, n=n, min_hits=min_hits).collect()
    }

    def grams(text):
        toks = text.split(" ")
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    pool = set().union(*(grams(t) for (t,) in evals))
    for i, t in docs:
        hits = len(grams(t) & pool)
        assert got[i] == (hits, hits >= min_hits), (i, got[i], hits)
    assert any(v[1] for v in got.values()) and not all(v[1] for v in got.values())


def test_match_sequence_skip_past_last(spark):
    """AFTER MATCH SKIP PAST LAST ROW: greedy non-overlapping matches —
    pinned on a hand trace where skip-to-next overlaps, then a random
    differential vs a sequential brute force (compute all skip-to-next
    matches, keep in anchor order those anchored strictly after the
    previous kept match's final (ts, id))."""
    import random
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import match_sequence

    t0 = datetime(2024, 1, 1)

    def ev(eid, user, typ, minutes):
        return (eid, user, typ, t0 + timedelta(minutes=minutes))

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    trace = [
        # two overlapping anchors share B@2/C@3: skip-to-next reports both,
        # skip-past-last keeps only the first; a later disjoint match stays
        ev(1, 1, "A", 0), ev(2, 1, "A", 1), ev(3, 1, "B", 2), ev(4, 1, "C", 3),
        ev(5, 1, "A", 4), ev(6, 1, "B", 5), ev(7, 1, "C", 6),
    ]
    df = spark.createDataFrame(trace, schema)
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]
    base = {
        r["id_1"]
        for r in match_sequence(df, steps, ["user_id"], within="30 minutes").collect()
    }
    assert base == {1, 2, 5}
    greedy = {
        r["id_1"]
        for r in match_sequence(
            df, steps, ["user_id"], within="30 minutes",
            after_match="skip_past_last",
        ).collect()
    }
    assert greedy == {1, 5}

    rng = random.Random(31)
    rand = [
        (i, rng.randrange(4), rng.choice("ABC"),
         t0 + timedelta(minutes=rng.randrange(120)))
        for i in range(300)
    ]
    rdf = spark.createDataFrame(rand, schema)
    all_matches = match_sequence(
        rdf, steps, ["user_id"], within="30 minutes"
    ).collect()
    want = set()
    by_user = {}
    for r in all_matches:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, ms in by_user.items():
        last = None
        for r in sorted(ms, key=lambda r: (r["ts_1"], r["id_1"])):
            if last is None or (r["ts_1"], r["id_1"]) > last:
                want.add((user, r["id_1"]))
                last = (r["ts_3"], r["id_3"])
    got = {
        (r["user_id"], r["id_1"])
        for r in match_sequence(
            rdf, steps, ["user_id"], within="30 minutes",
            after_match="skip_past_last",
        ).collect()
    }
    assert got == want and len(got) < len(all_matches)


def test_match_sequence_skip_to_last_var(spark):
    """AFTER MATCH SKIP TO LAST <var> (positional): resume AT the row
    bound to the target step — inclusive, so the skip row itself may
    anchor the next match. Hand trace where all three strategies differ,
    plus the classic tick-chain inclusive pin (A A over a shared row),
    plus a random differential vs the sequential brute force."""
    import random
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import match_sequence

    t0 = datetime(2024, 1, 1)

    def ev(eid, user, typ, minutes):
        return (eid, user, typ, t0 + timedelta(minutes=minutes))

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    trace = [
        ev(1, 1, "A", 0), ev(2, 1, "B", 10), ev(3, 1, "A", 15),
        ev(4, 1, "C", 20), ev(5, 1, "A", 20), ev(6, 1, "B", 25),
        ev(7, 1, "C", 30),
    ]
    df = spark.createDataFrame(trace, schema)
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]

    def anchors(**kw):
        return {
            r["id_1"]
            for r in match_sequence(
                df, steps, ["user_id"], within="60 minutes", **kw
            ).collect()
        }

    assert anchors() == {1, 3, 5}
    assert anchors(after_match="skip_past_last") == {1, 5}
    # resume at the B row (10,2): anchor 3 @15 clears it, then its own B
    # is (25,6) which blocks anchor 5 @(20,5)
    assert anchors(after_match="skip_to_last:2") == {1, 3}
    assert anchors(after_match="skip_to_first:2") == {1, 3}
    # resume at the C row (20,4): the same-ts anchor (20,5) is kept by the
    # INCLUSIVE comparison where skip_past_last needs strictly-after
    assert anchors(after_match="skip_to_last:3") == {1, 5}

    # tick-chain: A A with skip_to_last:2 — each match's second row
    # anchors the next match; skip_past_last collapses the chain
    chain = spark.createDataFrame(
        [ev(1, 1, "A", 0), ev(2, 1, "A", 5), ev(3, 1, "A", 10)], schema
    )
    two = [F.col("event_type") == "A"] * 2

    def ch(**kw):
        return {
            r["id_1"]
            for r in match_sequence(
                chain, two, ["user_id"], within="60 minutes", **kw
            ).collect()
        }

    assert ch() == {1, 2}
    assert ch(after_match="skip_past_last") == {1}
    assert ch(after_match="skip_to_last:2") == {1, 2}

    # random differential vs the sequential rule over the full match set
    rng = random.Random(47)
    rand = [
        (i, rng.randrange(4), rng.choice("ABC"),
         t0 + timedelta(minutes=rng.randrange(120)))
        for i in range(300)
    ]
    rdf = spark.createDataFrame(rand, schema)
    all_matches = match_sequence(
        rdf, steps, ["user_id"], within="30 minutes"
    ).collect()
    for tgt in (2, 3):
        want = set()
        by_user = {}
        for r in all_matches:
            by_user.setdefault(r["user_id"], []).append(r)
        for user, ms in by_user.items():
            point = None
            for r in sorted(ms, key=lambda r: (r["ts_1"], r["id_1"])):
                if point is None or (r["ts_1"], r["id_1"]) >= point:
                    want.add((user, r["id_1"]))
                    point = (r[f"ts_{tgt}"], r[f"id_{tgt}"])
        got = {
            (r["user_id"], r["id_1"])
            for r in match_sequence(
                rdf, steps, ["user_id"], within="30 minutes",
                after_match=f"skip_to_last:{tgt}",
            ).collect()
        }
        assert got == want, tgt


def test_match_sequence_skip_to_loop_target(spark):
    """skip_to_last targeting a LoopStep: the resume point is the loop's
    LAST bound hop (skip_to_first its first) — requires bind measures."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    t0 = datetime(2024, 1, 1)

    def ev(eid, typ, minutes):
        return (eid, 1, typ, t0 + timedelta(minutes=minutes))

    # A B A B C A B C: skip_to_last:2 resumes at the last B (15,4) — the
    # A@12 anchor is dropped, A@22 (>= (15,4)) survives; skip_past_last
    # resumes after C@25, consuming A@22 as well; skip_to_first:2 resumes
    # at the FIRST B (10,3), keeping every anchor
    trace = [
        ev(1, "A", 0), ev(3, "B", 10), ev(2, "A", 12), ev(4, "B", 15),
        ev(5, "C", 25), ev(6, "A", 22), ev(7, "B", 30), ev(8, "C", 35),
    ]
    df = spark.createDataFrame(
        trace, "event_id long, user_id long, event_type string, ts timestamp"
    )
    lp = LoopStep(
        pred=F.col("event_type") == "B", min_n=1, bind=True, name="b"
    )
    steps = [F.col("event_type") == "A", lp, F.col("event_type") == "C"]

    def anchors(**kw):
        return {
            r["id_1"]
            for r in match_sequence(
                df, steps, ["user_id"], within="60 minutes", **kw
            ).collect()
        }

    assert anchors() == {1, 2, 6}
    assert anchors(after_match="skip_to_last:2") == {1, 6}
    assert anchors(after_match="skip_past_last") == {1}
    assert anchors(after_match="skip_to_first:2") == {1, 2, 6}


def test_match_sequence_skip_to_validation(spark):
    """Static rejects for the skip-to family: bad syntax, out-of-range or
    anchor target, optional target, unbound/zero-min loop target, final
    loop with any non-default strategy, anchor-loop position-1 first."""
    import pytest
    from datetime import datetime

    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    df = spark.createDataFrame(
        [(1, 1, "A", datetime(2024, 1, 1))],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    A, B, C = [F.col("event_type") == s for s in "ABC"]

    def call(steps, **kw):
        match_sequence(df, steps, ["user_id"], within="1 hour", **kw)

    with pytest.raises(ValueError, match="unknown after_match"):
        call([A, B], after_match="skip_to_last")
    with pytest.raises(ValueError, match="out of range"):
        call([A, B], after_match="skip_to_last:3")
    with pytest.raises(ValueError, match="first row"):
        call([A, B], after_match="skip_to_first:1")
    with pytest.raises(ValueError, match="optional"):
        call([A, B, C], optional_steps={2}, after_match="skip_to_last:2")
    lp_nobind = LoopStep(pred=B, min_n=1, name="b", bind=False)
    with pytest.raises(ValueError, match="bind"):
        call([A, lp_nobind, C], after_match="skip_to_last:2")
    lp0 = LoopStep(pred=B, min_n=0, bind=True, name="b")
    with pytest.raises(ValueError, match="min_n"):
        call([A, lp0, C], after_match="skip_to_first:2")
    fin = LoopStep(pred=B, min_n=1, bind=True, name="b")
    with pytest.raises(ValueError, match="FINAL"):
        call([A, fin], after_match="skip_to_last:2")
    # anchor-position loop: position 1 is the anchor row for FIRST
    alp = LoopStep(pred=A, min_n=2, bind=True, name="a")
    with pytest.raises(ValueError, match="infinite-loop"):
        call([alp, B], after_match="skip_to_first:1")
    # …but skip_to_last:1 (the loop's last hop) is legal with min_n >= 2
    call([alp, B], after_match="skip_to_last:1")


def test_match_sequence_anchor_loop_skip_to_last_1(spark):
    """skip_to_last:1 on an ANCHOR-position loop (A+ B): resume at the
    loop's last hop — that hop may re-anchor the next match (it matches
    the loop body), which neither skip_past_last nor any plain-step skip
    can express."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    t0 = datetime(2024, 1, 1)

    def ev(eid, typ, minutes):
        return (eid, 1, typ, t0 + timedelta(minutes=minutes))

    # A@0 A@5 B@10 A@15 A@20 B@25, min 2 hops: anchor1 closes at B@10 with
    # (A0,A5); anchor2 has count 1 at B@10 (insufficient — the partial
    # survives), accumulates A15/A20 and closes at B@25 with (2,4,5);
    # anchor4 closes at B@25 with (4,5); anchor5 never reaches 2 hops.
    # skip_to_last:1 resumes at anchor1's last hop A@5 — anchor2 sits
    # exactly there (inclusive: kept), whose last hop A@20 then consumes
    # anchor4. skip_past_last resumes after B@10 instead: anchor2 dies,
    # anchor4 survives.
    trace = [
        ev(1, "A", 0), ev(2, "A", 5), ev(3, "B", 10),
        ev(4, "A", 15), ev(5, "A", 20), ev(6, "B", 25),
    ]
    df = spark.createDataFrame(
        trace, "event_id long, user_id long, event_type string, ts timestamp"
    )
    alp = LoopStep(
        pred=F.col("event_type") == "A", min_n=2, bind="all", name="a"
    )
    steps = [alp, F.col("event_type") == "B"]

    def run(**kw):
        return {
            r["first_a_id"]: tuple(r["a_ids"])
            for r in match_sequence(
                df, steps, ["user_id"], within="60 minutes", **kw
            ).collect()
        }

    assert run() == {1: (1, 2), 2: (2, 4, 5), 4: (4, 5)}
    assert run(after_match="skip_to_last:1") == {1: (1, 2), 2: (2, 4, 5)}
    assert run(after_match="skip_past_last") == {1: (1, 2), 4: (4, 5)}
    # overlapping chain: A@0 A@5 B@6 … A@5 is the skip row; under
    # skip_to_last:1 it may anchor again toward the NEXT B
    trace2 = [
        ev(1, "A", 0), ev(2, "A", 5), ev(3, "B", 6),
        ev(4, "A", 8), ev(5, "B", 9),
    ]
    df2 = spark.createDataFrame(
        trace2, "event_id long, user_id long, event_type string, ts timestamp"
    )

    def run2(**kw):
        return {
            r["first_a_id"]: tuple(r["a_ids"])
            for r in match_sequence(
                df2, steps, ["user_id"], within="60 minutes", **kw
            ).collect()
        }

    # skip_to_next: anchor1 (1,2)->B@6; anchor2 (2,4)->B@9
    assert run2() == {1: (1, 2), 2: (2, 4)}
    # skip_to_last:1 resumes AT A@5 (inclusive): both kept
    assert run2(after_match="skip_to_last:1") == {1: (1, 2), 2: (2, 4)}
    # skip_past_last resumes after B@6: anchor2 @5 is consumed
    assert run2(after_match="skip_past_last") == {1: (1, 2)}


def test_loop_greedy_vs_reluctant(spark):
    """Greedy (possessive) vs reluctant Kleene loops — only differ when
    the loop body and the closer overlap. Body (B|C), closer C: the
    reluctant loop closes at the FIRST sufficient C; the greedy loop
    consumes dual-matching events as hops until max_n, and with
    max_n=None can only be closed by a non-body event (here: never)."""
    from datetime import datetime, timedelta

    import pytest

    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    t0 = datetime(2024, 1, 1)

    def ev(eid, typ, minutes):
        return (eid, 1, typ, t0 + timedelta(minutes=minutes))

    trace = [
        ev(1, "A", 0), ev(2, "B", 1), ev(3, "C", 2), ev(4, "C", 3),
        ev(5, "B", 4), ev(6, "C", 5),
    ]
    df = spark.createDataFrame(
        trace, "event_id long, user_id long, event_type string, ts timestamp"
    )
    body = [F.col("event_type") == "B", F.col("event_type") == "C"]
    closer = F.col("event_type") == "C"

    def run(**lp_kw):
        lp = LoopStep(pred=body, min_n=1, bind="all", name="h", **lp_kw)
        return {
            (r["id_1"], r["n_h"], tuple(r["h_ids"]), r["id_3"])
            for r in match_sequence(
                df, [F.col("event_type") == "A", lp, closer],
                ["user_id"], within="60 minutes",
            ).collect()
        }

    # reluctant: B@1 suffices, first C (id 3) closes
    assert run() == {(1, 1, (2,), 3)}
    # greedy, max_n=2: C@2 hops (count 1 < 2), C@3 closes (count 2)
    assert run(greedy=True, max_n=2) == {(1, 2, (2, 3), 4)}
    # greedy, max_n=4: hops B@1 C@2 C@3 B@4 fill the cap — C@5 closes
    assert run(greedy=True, max_n=4) == {(1, 4, (2, 3, 4, 5), 6)}
    # greedy, unbounded: every dual event hops; nothing can ever close
    assert run(greedy=True) == set()

    # disjoint body/closer: greedy == reluctant (the flag is inert)
    lp_d = dict(pred=F.col("event_type") == "B", min_n=1, bind="all",
                name="h")
    for kw in ({}, {"greedy": True}):
        got = {
            (r["id_1"], r["n_h"], tuple(r["h_ids"]), r["id_3"])
            for r in match_sequence(
                df, [F.col("event_type") == "A", LoopStep(**lp_d, **kw),
                     closer],
                ["user_id"], within="60 minutes",
            ).collect()
        }
        assert got == {(1, 1, (2,), 3)}

    # final-position greedy loop: rejected on both twins
    with pytest.raises(ValueError, match="FINAL"):
        match_sequence(
            df,
            [F.col("event_type") == "A",
             LoopStep(pred=closer, min_n=1, greedy=True)],
            ["user_id"], within="60 minutes",
        )


def test_loop_greedy_stream_equals_batch(spark, tmp_path):
    """Greedy loop stream==batch on a random overlapping-vocabulary
    replay (body (click|purchase), closer purchase, max_n=2) — the
    ts-strict greedy cap must agree across the twins, including
    same-timestamp collisions."""
    import os
    import random
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        LoopStep, match_sequence, match_sequence_stream,
    )

    rng = random.Random(71)
    t0 = datetime(2024, 1, 1)
    rows = sorted(
        (
            (i, rng.randrange(4),
             rng.choice(["view", "click", "purchase", "noise"]),
             # coarse grid forces same-ts collisions
             t0 + timedelta(seconds=rng.randrange(360) * 10))
            for i in range(500)
        ),
        key=lambda r: (r[3], r[0]),
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    n = len(pdf)
    for f in range(4):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * n // 4 : (f + 1) * n // 4].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))

    lp_b = LoopStep(
        pred=[F.col("event_type") == "click",
              F.col("event_type") == "purchase"],
        value=("click", "purchase"),
        min_n=1, max_n=2, bind="all", name="h", greedy=True,
    )
    steps = [F.col("event_type") == "view", lp_b,
             F.col("event_type") == "purchase"]
    cols = ["user_id", "ts_1", "id_1", "n_h", "h_ids", "ts_3", "id_3"]
    batch_df = spark.createDataFrame(pdf)
    want = sorted(
        (tuple(r[c] if c != "h_ids" else tuple(r[c]) for c in cols))
        for r in match_sequence(
            batch_df, steps, ["user_id"], within="15 minutes"
        ).collect()
    )
    # the greedy flag must actually bite vs the reluctant twin
    rel_rows = sorted(
        (tuple(r[c] if c != "h_ids" else tuple(r[c]) for c in cols))
        for r in match_sequence(
            batch_df,
            [steps[0],
             LoopStep(pred=lp_b.pred, min_n=1, max_n=2, bind="all",
                      name="h"),
             steps[2]],
            ["user_id"], within="15 minutes",
        ).collect()
    )
    assert want and want != rel_rows

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream, [ "view", lp_b, "purchase"], key_col="user_id",
        within="15 minutes",
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (tuple(r[c] if c != "h_ids" else tuple(r[c]) for c in cols))
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == want and len(want) > 0


def test_all_rows_per_match_basic(spark):
    """ALL ROWS PER MATCH over a plain funnel: one row per bound event
    with payload, classifier, per-key MATCH_NUMBER in anchor order and
    row_in_match ordinals; skipped optionals contribute no row; measures
    are FINAL (same value on every row of the match)."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import all_rows_per_match, match_sequence

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: two matches (overlapping anchors); user 2: optional taken
        (1, 1, "A", t0, "pa"),
        (2, 1, "A", t0 + timedelta(minutes=1), "pb"),
        (3, 1, "B", t0 + timedelta(minutes=2), "pc"),
        (4, 1, "C", t0 + timedelta(minutes=3), "pd"),
        (5, 2, "A", t0, "pe"),
        (6, 2, "B", t0 + timedelta(minutes=1), "pf"),
        (7, 2, "C", t0 + timedelta(minutes=2), "pg"),
        (8, 3, "A", t0, "ph"),   # no B/C: no match, no rows
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, "
        "payload string",
    )
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]
    m = match_sequence(events, steps, ["user_id"], within="30 minutes")
    out = all_rows_per_match(
        m, events, steps, ["user_id"], step_names=["a", "b", "c"]
    ).collect()
    got = {
        (r["user_id"], r["match_no"], r["row_in_match"]):
            (r["event_id"], r["classifier"], r["payload"])
        for r in out
    }
    assert got == {
        (1, 1, 1): (1, "a", "pa"),
        (1, 1, 2): (3, "b", "pc"),
        (1, 1, 3): (4, "c", "pd"),
        (1, 2, 1): (2, "a", "pb"),
        (1, 2, 2): (3, "b", "pc"),
        (1, 2, 3): (4, "c", "pd"),
        (2, 1, 1): (5, "a", "pe"),
        (2, 1, 2): (6, "b", "pf"),
        (2, 1, 3): (7, "c", "pg"),
    }
    # FINAL measures: every row of user-1 match 1 carries the same id_3
    per_match = {}
    for r in out:
        per_match.setdefault((r["user_id"], r["match_no"]), set()).add(r["id_3"])
    assert all(len(v) == 1 for v in per_match.values())

    # optional skipped: A B? C with no B in range -> only A and C rows
    opt_steps = [
        F.col("event_type") == "A",
        F.col("event_type") == "B",
        F.col("event_type") == "C",
    ]
    ev2 = spark.createDataFrame(
        [
            (1, 9, "A", t0, "x"),
            (2, 9, "C", t0 + timedelta(minutes=1), "y"),
        ],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "payload string",
    )
    m2 = match_sequence(
        ev2, opt_steps, ["user_id"], within="30 minutes", optional_steps={2}
    )
    out2 = all_rows_per_match(m2, ev2, opt_steps, ["user_id"]).collect()
    assert {(r["event_id"], r["classifier"]) for r in out2} == {
        (1, "s1"), (2, "s3")
    }


def test_all_rows_per_match_loop_and_counts(spark):
    """Loop hops (bind=\"all\") and bound CountBetween rows expand with
    their own classifier; a loop without bind=\"all\" is rejected."""
    import pytest
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import (
        CountBetween, LoopStep, all_rows_per_match, match_sequence,
    )

    t0 = datetime(2024, 1, 1)

    def ev(eid, typ, minutes):
        return (eid, 1, typ, t0 + timedelta(minutes=minutes))

    events = spark.createDataFrame(
        [
            ev(1, "A", 0), ev(2, "B", 1), ev(3, "B", 2), ev(4, "x", 3),
            ev(5, "C", 4),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    lp = LoopStep(
        pred=F.col("event_type") == "B", min_n=1, bind="all", name="hop"
    )
    steps = [F.col("event_type") == "A", lp, F.col("event_type") == "C"]
    cb = CountBetween(
        pred=F.col("event_type") == "x", lo_step=1, hi_step=3,
        min_n=0, bind="all", name="noise",
    )
    m = match_sequence(
        events, steps, ["user_id"], within="30 minutes", counts=[cb]
    )
    out = all_rows_per_match(
        m, events, steps, ["user_id"], counts=[cb]
    ).collect()
    ordered = sorted(out, key=lambda r: r["row_in_match"])
    assert [(r["event_id"], r["classifier"]) for r in ordered] == [
        (1, "s1"), (2, "hop"), (3, "hop"), (4, "noise"), (5, "s3"),
    ]
    assert all(r["match_no"] == 1 and r["n_hop"] == 2 for r in out)

    lp_nob = LoopStep(
        pred=F.col("event_type") == "B", min_n=1, bind=True, name="hop"
    )
    m2 = match_sequence(
        events,
        [F.col("event_type") == "A", lp_nob, F.col("event_type") == "C"],
        ["user_id"], within="30 minutes",
    )
    with pytest.raises(ValueError, match='bind="all"'):
        all_rows_per_match(
            m2, events,
            [F.col("event_type") == "A", lp_nob, F.col("event_type") == "C"],
            ["user_id"],
        )


def test_all_rows_per_match_anchor_loop(spark):
    """Anchor-position loop (A+ B): the anchor identity comes from the
    folded first-hop measures; loop hops (incl. the anchor) expand."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import (
        LoopStep, all_rows_per_match, match_sequence,
    )

    t0 = datetime(2024, 1, 1)

    def ev(eid, typ, minutes):
        return (eid, 1, typ, t0 + timedelta(minutes=minutes))

    events = spark.createDataFrame(
        [ev(1, "A", 0), ev(2, "A", 1), ev(3, "B", 2)],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    alp = LoopStep(
        pred=F.col("event_type") == "A", min_n=2, bind="all", name="a"
    )
    steps = [alp, F.col("event_type") == "B"]
    m = match_sequence(events, steps, ["user_id"], within="30 minutes")
    out = all_rows_per_match(m, events, steps, ["user_id"]).collect()
    ordered = sorted(out, key=lambda r: r["row_in_match"])
    assert [(r["event_id"], r["classifier"]) for r in ordered] == [
        (1, "a"), (2, "a"), (3, "s2"),
    ]


def test_all_rows_per_match_stream(spark, tmp_path):
    """Streaming expansion: the exploded match stream joins a STATIC
    events table (stream-static equi-join) and equals the batch
    expansion modulo the batch-only match_no/row_in_match ordinals."""
    import os
    import time as _time
    from datetime import datetime, timedelta

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        all_rows_per_match, match_sequence, match_sequence_stream,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 1, "A", t0), (2, 1, "B", t0 + timedelta(minutes=1)),
        (3, 1, "C", t0 + timedelta(minutes=2)),
        (4, 2, "A", t0), (5, 2, "B", t0 + timedelta(minutes=3)),
        (6, 2, "C", t0 + timedelta(minutes=5)),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for f in range(2):
        p = str(src / f"part-{f}.parquet")
        pdf.iloc[f * 3 : (f + 1) * 3].to_parquet(p, index=False)
        os.utime(p, (now + f, now + f))
    events = spark.createDataFrame(pdf)
    steps = [F.col("event_type") == s for s in ("A", "B", "C")]

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    mstream = match_sequence_stream(
        stream, ["A", "B", "C"], key_col="user_id", within="30 minutes"
    )
    expanded = all_rows_per_match(mstream, events, steps, ["user_id"])
    assert expanded.isStreaming and "anchor_id" in expanded.columns
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        expanded.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["anchor_id"], r["event_id"], r["classifier"])
        for r in spark.read.parquet(str(sink)).collect()
    }
    # ground truth: derive the expansion from the batch match set directly
    mbatch = match_sequence(events, steps, ["user_id"], within="30 minutes")
    want = set()
    for r in mbatch.collect():
        for pos, cls in ((1, "s1"), (2, "s2"), (3, "s3")):
            want.add((r["user_id"], r["id_1"], r[f"id_{pos}"], cls))
    assert got == want


def test_match_sequence_sessionized_skip_past_last_composes(spark):
    """Option composition: session-gap bounding + greedy non-overlap.
    Within one session, back-to-back funnels stay (disjoint), overlapping
    ones collapse to the first; non-overlap is scoped PER SESSION (a new
    session restarts the search)."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import match_sequence_sessionized

    t0 = datetime(2024, 1, 1)

    def ev(eid, typ, minutes):
        return (eid, 1, typ, t0 + timedelta(minutes=minutes))

    trace = [
        # session 1: overlapping anchors 1,2 share B@2/C@3 -> keep first;
        # disjoint follow-up anchored at 5 stays
        ev(1, "A", 0), ev(2, "A", 1), ev(3, "B", 2), ev(4, "C", 3),
        ev(5, "A", 4), ev(6, "B", 5), ev(7, "C", 6),
        # >30 min quiet -> session 2: fresh search
        ev(8, "A", 60), ev(9, "B", 61), ev(10, "C", 62),
    ]
    df = spark.createDataFrame(
        trace, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        (r["session_id"], r["id_1"])
        for r in match_sequence_sessionized(
            df,
            [F.col("event_type") == s for s in ("A", "B", "C")],
            ["user_id"],
            gap="30 minutes",
            after_match="skip_past_last",
        ).collect()
    }
    assert got == {(1, 1), (1, 5), (2, 8)}


def test_asof_join_bucketed_null_ts_out_of_contract(spark):
    """ADVICE r5: null timestamps are out of contract for the time_bucket
    path — null-ts rows are dropped from BOTH sides, so a null-ts left row
    can never spuriously match a null-ts right row inside the null bucket
    (forward direction was the failure mode)."""
    import datetime as dt

    from rtfproc_spark.operators.joins import asof_join

    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("u1", t, 1), ("u1", None, 2)], "user_id string, ts timestamp, idx int"
    )
    right = spark.createDataFrame(
        [("u1", t + dt.timedelta(minutes=1), "a"), ("u1", None, "n")],
        "user_id string, ts timestamp, tag string",
    )
    for direction in ("backward", "forward"):
        out = asof_join(
            left, right, "user_id", direction=direction,
            tiebreak="tag", time_bucket="1 hour",
        ).collect()
        # null-ts left row dropped; surviving row never matches the null-ts
        # right row
        assert [r["idx"] for r in out] == [1]
        assert all(r["r_tag"] in (None, "a") for r in out)
    fwd = asof_join(
        left, right, "user_id", direction="forward",
        tiebreak="tag", time_bucket="1 hour",
    ).collect()
    assert fwd[0]["r_tag"] == "a"


def test_sessionized_session_id_collision_raises(spark):
    import pytest as _pytest

    from rtfproc_spark.operators.cep import match_sequence_sessionized

    df = spark.createDataFrame(
        [("u", 1, 1, "view")],
        "user_id string, ts long, session_id long, event_type string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    with _pytest.raises(ValueError, match="session_id"):
        match_sequence_sessionized(
            df.withColumn("event_id", F.lit(1)),
            [F.col("event_type") == "view"],
            ["user_id"],
        )


def test_match_sequence_alternation_and_binding_differential(spark):
    """Round-6 surface: alternation ``A (B|C) D`` (branch_k records which
    branch matched — CLASSIFIER()) and binding loops (CountBetween
    bind=True emits FIRST/LAST hop measures), vs a Python brute force on
    shrinking random traces."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rtfproc_spark.operators.cep import CountBetween, match_sequence

    t0 = datetime(2024, 1, 1)
    event = st.tuples(
        st.integers(0, 1),
        st.sampled_from(["A", "B", "C", "D", "E"]),
        st.integers(0, 60),
    )

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(event, min_size=2, max_size=24))
    def check(evs):
        trace = [
            (i, u, typ, t0 + timedelta(minutes=m))
            for i, (u, typ, m) in enumerate(evs)
        ]
        df = spark.createDataFrame(
            trace, "event_id long, user_id long, event_type string, ts timestamp"
        )
        got = {
            (r["user_id"], r["id_1"]): (
                r["id_2"], r["branch_2"], r["id_3"], r["n_err"],
                r["first_err_id"], r["last_err_id"],
            )
            for r in match_sequence(
                df,
                [
                    F.col("event_type") == "A",
                    [F.col("event_type") == "B", F.col("event_type") == "C"],
                    F.col("event_type") == "D",
                ],
                ["user_id"],
                within="30 minutes",
                counts=[
                    CountBetween(
                        pred=F.col("event_type") == "E",
                        lo_step=1, hi_step=3, min_n=0, max_n=2,
                        name="err", bind=True,
                    )
                ],
            ).collect()
        }
        want = {}
        by_user = {}
        for e in trace:
            by_user.setdefault(e[1], []).append(e)
        for user, uevs in by_user.items():
            for a in (e for e in uevs if e[2] == "A"):
                limit = a[3] + timedelta(minutes=30)

                def first_of(types, lo):
                    cands = [
                        (e[3], e[0], types.index(e[2]))
                        for e in uevs
                        if e[2] in types and lo < e[3] <= limit
                    ]
                    return min(cands) if cands else None

                m2 = first_of(["B", "C"], a[3])
                if m2 is None:
                    continue
                m3 = first_of(["D"], m2[0])
                if m3 is None:
                    continue
                binds = sorted(
                    (e[3], e[0]) for e in uevs
                    if e[2] == "E" and a[3] < e[3] < m3[0]
                )
                if len(binds) > 2:
                    continue
                want[(user, a[0])] = (
                    m2[1], m2[2], m3[1], len(binds),
                    binds[0][1] if binds else None,
                    binds[-1][1] if binds else None,
                )
        assert got == want

    check()


def test_sessionized_time_bucket_hot_key(spark):
    """Two-phase sessionization (round-6): time_bucket= splits the labeling
    window across (key, bucket) tasks with a cross-bucket seam pass; the
    output must EXACTLY equal the single-window form — including sessions
    spanning bucket edges and sessions splitting exactly at an edge."""
    import datetime as dt
    import random
    import re

    from rtfproc_spark.operators.cep import match_sequence_sessionized

    rng = random.Random(11)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # hot key: 400 events with gaps straddling the 10-minute bucket edges;
    # cold keys: sparse
    for uid, n in [("hot", 400)] + [(f"u{i}", 30) for i in range(6)]:
        t = t0
        for _ in range(n):
            # mixture of small gaps (same session), > 3 min gaps (split),
            # occasional duplicates (id tiebreak)
            step = rng.choice([0, 20, 45, 200, 400])
            t = t + dt.timedelta(seconds=step)
            rows.append(
                (eid, uid, rng.choice(["view", "click", "purchase"]), t)
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts timestamp"
    ).repartition(8)
    steps = [F.col("event_type") == "view", F.col("event_type") == "purchase"]
    key = lambda r: (  # noqa: E731
        r["user_id"], r["session_id"], r["id_1"], r["id_2"]
    )
    want = sorted(
        map(
            key,
            match_sequence_sessionized(
                df, steps, ["user_id"], gap="3 minutes"
            ).collect(),
        )
    )
    bucketed = match_sequence_sessionized(
        df, steps, ["user_id"], gap="3 minutes", time_bucket="10 minutes"
    )
    got = sorted(map(key, bucketed.collect()))
    assert got == want and len(want) > 30
    # the labeling window partitions by (key, bucket), not key alone
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(user_id#\d+[^)]*_b#", plan), plan[:3000]


def test_suggest_time_bucket_decision_rule(spark):
    """asof_join crossover guidance: under the crossover -> None (single
    window wins); over it -> a bucket duration sized to
    target_rows_per_bucket slices of the hottest key's span."""
    import datetime as dt

    from rtfproc_spark.operators.joins import suggest_time_bucket

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("hot", t0 + dt.timedelta(seconds=i)) for i in range(1000)
    ] + [("cold", t0 + dt.timedelta(seconds=7 * i)) for i in range(100)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    # default crossover (5M) far above 1000 rows -> stay single-window
    assert suggest_time_bucket(df, "user_id") is None
    # lowered crossover: hottest key (1000 rows over a 999s span), target
    # 100 rows/bucket -> 10 buckets of ~99s
    got = suggest_time_bucket(
        df, "user_id", target_rows_per_bucket=100, crossover=500
    )
    assert got == "99 seconds"
    # the suggestion feeds straight back into asof_join
    from rtfproc_spark.operators.joins import asof_join

    out = asof_join(df, df.withColumnRenamed("ts", "rts"), "user_id",
                    right_ts="rts", time_bucket=got)
    assert out.count() == len(rows)
    # empty input -> None, no crash
    assert suggest_time_bucket(df.filter("false"), "user_id") is None


def test_kmeans_distributed_matches_local_fit(spark):
    """Distributed Lloyd's (mapInPandas partial sums) must track the
    driver-side fit: identical deterministic init, same assignment steps —
    centroids agree to float tolerance (addition order differs), and the
    resulting IVF assignment is identical on a well-separated corpus."""
    import numpy as np

    from rtfproc_spark.functions.similarity import (
        assign_clusters,
        kmeans_fit_distributed,
        kmeans_fit_local,
    )

    rng = np.random.RandomState(7)
    # 4 well-separated blobs in 8d
    centers = rng.randn(4, 8) * 10
    X = np.concatenate(
        [centers[i] + rng.randn(50, 8) for i in range(4)]
    )
    ids = np.arange(len(X))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, X)],
        "vec_id long, embedding array<double>",
    ).repartition(6)
    C_local = kmeans_fit_local(X[np.argsort(ids)], nlist=4, seed=3, iters=8)
    C_dist = kmeans_fit_distributed(
        df, nlist=4, seed=3, iters=8, init_sample=len(X)
    )
    # same trajectory modulo cross-partition float addition order
    assert np.allclose(
        np.sort(C_local, axis=0), np.sort(C_dist, axis=0), atol=1e-8
    )
    assert (
        assign_clusters(X, C_local) == assign_clusters(X, C_dist)
    ).all()


def test_match_sequence_optional_alternation(spark):
    """Alternation under an optional step: A (B|C)? D — the optional is
    taken iff the earliest B-or-C candidate precedes the earliest D, and
    branch_2 records which alternative bound (null when skipped)."""
    from datetime import datetime, timedelta

    from rtfproc_spark.operators.cep import match_sequence

    t0 = datetime(2024, 1, 1)
    m = lambda mins: t0 + timedelta(minutes=mins)  # noqa: E731
    rows = [
        # user 1: A, C@3, D@5 -> optional taken via branch 1
        (1, 1, "A", m(0)), (2, 1, "C", m(3)), (3, 1, "D", m(5)),
        # user 2: A, D@2, B@4 -> D first, optional skipped
        (4, 2, "A", m(0)), (5, 2, "D", m(2)), (6, 2, "B", m(4)),
        # user 3: A, B@1, C@2, D@6 -> earliest of the union wins (B, br 0)
        (7, 3, "A", m(0)), (8, 3, "B", m(1)), (9, 3, "C", m(2)),
        (10, 3, "D", m(6)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        r["user_id"]: (r["id_2"], r["branch_2"], r["id_3"])
        for r in match_sequence(
            df,
            [
                F.col("event_type") == "A",
                [F.col("event_type") == "B", F.col("event_type") == "C"],
                F.col("event_type") == "D",
            ],
            ["user_id"],
            within="30 minutes",
            optional_steps={2},
        ).collect()
    }
    assert got == {1: (2, 1, 3), 2: (None, None, 5), 3: (8, 0, 10)}


def test_match_sequence_stream_optional_alternation_equals_batch(spark, tmp_path):
    """Stream twin of A (B|C)? D: tuple-valued optional step with the
    disjointness check, matching batch across a replay."""
    import os
    import time as _time

    import pandas as pd
    import pytest as _pytest

    from rtfproc_spark.operators.cep import match_sequence, match_sequence_stream

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = lambda mins: t0 + pd.Timedelta(minutes=mins)  # noqa: E731
    pdf = pd.DataFrame(
        [
            (1, 1, "A", m(0)), (2, 1, "C", m(3)), (3, 1, "D", m(5)),
            (4, 2, "A", m(0)), (5, 2, "D", m(2)), (6, 2, "B", m(4)),
            (7, 3, "A", m(0)), (8, 3, "B", m(1)), (9, 3, "C", m(2)),
            (10, 3, "D", m(6)),
        ],
        columns=["event_id", "user_id", "event_type", "ts"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for i in range(2):
        p = str(src / f"part-{i}.parquet")
        pdf.iloc[i * 5 : (i + 1) * 5].to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))
    cols = ["user_id", "id_1", "id_2", "branch_2", "id_3"]
    want = sorted(
        tuple(r[c] for c in cols)
        for r in match_sequence(
            spark.createDataFrame(pdf),
            [
                F.col("event_type") == "A",
                [F.col("event_type") == "B", F.col("event_type") == "C"],
                F.col("event_type") == "D",
            ],
            ["user_id"],
            within="30 minutes",
            optional_steps={2},
        ).collect()
    )
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_sequence_stream(
        stream,
        ["A", ("B", "C"), "D"],
        key_col="user_id",
        within="30 minutes",
        optional_steps={2},
    )
    sink, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == want
    # overlap between an optional step's values and its closer's raises
    with _pytest.raises(ValueError, match="disjoint"):
        match_sequence_stream(
            stream, ["A", ("B", "D"), "D"], key_col="user_id",
            optional_steps={2},
        )


def test_bucketed_paths_accept_timestamp_ntz(spark):
    """The driver testdata's event ts is TIMESTAMP_NTZ; both two-phase
    bucketing paths (asof time_bucket, sessionized time_bucket) must
    accept it — unix_timestamp handles NTZ where a double/long cast does
    not (the round-5 gotcha)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": range(8),
            "user_id": ["u"] * 8,
            "event_type": ["view", "purchase"] * 4,
            "ts": pd.to_datetime(
                [f"2024-01-01 0{h}:00:00" for h in range(8)]
            ).astype("datetime64[us]"),
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    assert "timestamp_ntz" in dict(df.dtypes)["ts"]
    from rtfproc_spark.operators.cep import match_sequence_sessionized
    from rtfproc_spark.operators.joins import asof_join

    out = match_sequence_sessionized(
        df,
        [F.col("event_type") == "view", F.col("event_type") == "purchase"],
        ["user_id"],
        gap="90 minutes",
        time_bucket="2 hours",
    )
    assert out.count() == 4
    right = df.select(
        "user_id", F.col("ts").alias("rts"), F.col("event_id").alias("rid")
    )
    j = asof_join(
        df, right, "user_id", right_ts="rts", tiebreak="rid",
        time_bucket="2 hours",
    )
    assert j.count() == 8


def test_binding_loop_all_hops(spark):
    """bind='all' emits every loop hop id in (ts, id) order, batch and
    stream twins agreeing (the per-row B.* measures surface)."""
    import os
    import time as _time

    import pandas as pd

    from rtfproc_spark.operators.cep import (
        CountBetween,
        match_sequence,
        match_sequence_stream,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = lambda mins: t0 + pd.Timedelta(minutes=mins)  # noqa: E731
    pdf = pd.DataFrame(
        [
            (1, 1, "A", m(0)), (2, 1, "E", m(1)), (3, 1, "E", m(2)),
            (4, 1, "E", m(3)), (5, 1, "C", m(4)),
            (6, 2, "A", m(0)), (7, 2, "C", m(2)),     # zero-hop loop
            # boundary: E at exactly the close time is OUTSIDE the loop
            (8, 3, "A", m(0)), (9, 3, "E", m(1)), (10, 3, "E", m(5)),
            (11, 3, "C", m(5)),
        ],
        columns=["event_id", "user_id", "event_type", "ts"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    spec = CountBetween(
        pred=F.col("event_type") == "E", value="E",
        lo_step=1, hi_step=2, min_n=0, max_n=5, name="err", bind="all",
    )
    got = {
        r["user_id"]: (r["n_err"], r["first_err_id"], r["last_err_id"],
                       list(r["err_ids"]))
        for r in match_sequence(
            spark.createDataFrame(pdf),
            [F.col("event_type") == "A", F.col("event_type") == "C"],
            ["user_id"], within="30 minutes", counts=[spec],
        ).collect()
    }
    assert got == {
        1: (3, 2, 4, [2, 3, 4]),
        2: (0, None, None, []),
        3: (1, 9, 9, [9]),
    }

    # stream twin over a 2-file replay
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "src")
        os.makedirs(src)
        now = _time.time()
        for i in range(2):
            p = os.path.join(src, f"part-{i}.parquet")
            pdf.iloc[i * 6 : (i + 1) * 6].to_parquet(p, index=False)
            os.utime(p, (now + i, now + i))
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = match_sequence_stream(
            stream, ["A", "C"], key_col="user_id",
            within="30 minutes", counts=[spec],
        )
        sink = os.path.join(td, "out")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(td, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sgot = {
            r["user_id"]: (r["n_err"], r["first_err_id"], r["last_err_id"],
                           list(r["err_ids"]))
            for r in spark.read.parquet(sink).collect()
        }
    assert sgot == got


def test_contamination_hits_no_broadcast_path(spark):
    """broadcast_eval=False (an eval set too big to broadcast) must give
    identical results through the shuffle-join degradation path."""
    from rtfproc_spark.functions.text import contamination_hits

    eval_df = spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta",)], "text string"
    )
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta leaked here"),
            (1, "totally unrelated words in this document"),
            (2, "prefix alpha beta gamma delta epsilon suffix"),
        ],
        "doc_id long, text string",
    )
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["n_contaminated_grams"], r["contaminated"])
        for r in df.collect()
    )
    a = key(contamination_hits(docs, eval_df, n=4))
    b = key(contamination_hits(docs, eval_df, n=4, broadcast_eval=False))
    assert a == b and a[0][2] and a[2][2] and not a[1][2]


def test_sessionized_time_bucket_hypothesis_differential(spark):
    """Property test for the two-phase (key, bucket) sessionization: on
    random traces with duplicate timestamps, gaps landing exactly ON
    bucket edges, and empty buckets between events, the time_bucket
    labeler must produce exactly the single-window labeler's matches and
    session ordinals."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rtfproc_spark.operators.cep import match_sequence_sessionized

    t0 = datetime(2024, 1, 1)
    event = st.tuples(
        st.integers(0, 1),
        st.sampled_from(["A", "C", "noise"]),
        # minute offsets biased to land on/near multiples of the 10-minute
        # bucket and the 7-minute gap
        st.integers(0, 90),
    )

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(event, min_size=2, max_size=22))
    def check(evs):
        trace = [
            (i, u, typ, t0 + timedelta(minutes=m))
            for i, (u, typ, m) in enumerate(evs)
        ]
        df = spark.createDataFrame(
            trace, "event_id long, user_id long, event_type string, ts timestamp"
        )
        steps = [F.col("event_type") == "A", F.col("event_type") == "C"]
        key = lambda r: (  # noqa: E731
            r["user_id"], r["session_id"], r["id_1"], r["id_2"]
        )
        want = sorted(
            map(key, match_sequence_sessionized(
                df, steps, ["user_id"], gap="7 minutes"
            ).collect())
        )
        got = sorted(
            map(key, match_sequence_sessionized(
                df, steps, ["user_id"], gap="7 minutes",
                time_bucket="10 minutes",
            ).collect())
        )
        assert got == want

    check()


def test_dup_span_stats_interval_merge(spark):
    """Hand-built corpus with known duplicated 3-gram geometry: overlapping
    spans merge, a doc free of shared grams reports zeros, short docs emit
    no grams, and within-doc-only repetition does NOT count (min_docs=2
    needs distinct documents)."""
    from rtfproc_spark.functions.dedup import dup_span_stats

    shared = "alpha beta gamma delta"  # 2 shared 3-grams, overlapping
    rows = [
        (1, f"{shared} one two three"),          # starts 1,2 -> covered 1..4
        (2, f"x y {shared}"),                    # starts 3,4 -> covered 3..6
        (3, "unrelated words only here now"),    # zero dup grams
        (4, "rep rep rep rep rep rep"),          # within-doc repeats only
        (5, "tiny doc"),                         # < n words: no grams at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_grams"], r["covered_tokens"], r["dup_coverage"])
        for r in dup_span_stats(df, n=3, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 1: 7 tokens, dup 3-gram starts at 1 and 2 -> merged cover [1,4] = 4
    assert out[1] == (7, 2, 4, round(4 / 7, 4))
    # doc 2: 6 tokens, starts at 3 and 4 -> merged cover [3,6] = 4
    assert out[2] == (6, 2, 4, round(4 / 6, 4))
    assert out[3] == (5, 0, 0, 0.0)
    # 'rep rep rep' occurs 4x in doc 4 but in no OTHER doc -> not duplicated
    assert out[4] == (6, 0, 0, 0.0)
    assert out[5] == (2, 0, 0, 0.0)


def test_dup_span_stats_disjoint_spans_and_min_docs(spark):
    from rtfproc_spark.functions.dedup import dup_span_stats

    a = "p q r"      # shared by docs 1,2,3
    b = "u v w"      # shared by docs 1,2
    rows = [
        (1, f"{a} f1 f2 {b} f3"),
        (2, f"{a} g1 g2 g3 {b}"),
        (3, f"{a} h1 h2 h3 h4 h5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # min_docs=3: only the a-gram survives
    out3 = {
        r["doc_id"]: (r["n_dup_grams"], r["covered_tokens"])
        for r in dup_span_stats(df, n=3, min_docs=3).collect()
    }
    assert out3[1] == (1, 3) and out3[2] == (1, 3) and out3[3] == (1, 3)
    # min_docs=2: disjoint a + b spans both count, no bridge between them
    out2 = {
        r["doc_id"]: (r["n_dup_grams"], r["covered_tokens"])
        for r in dup_span_stats(df, n=3, min_docs=2).collect()
    }
    assert out2[1] == (2, 6) and out2[2] == (2, 6) and out2[3] == (1, 3)
    with pytest.raises(ValueError):
        dup_span_stats(df, min_docs=1)


def test_semantic_dedup_matches_local_twin(spark):
    """SemDeDup distributed path == the pure-Python/numpy re-derivation on
    planted blob data: 3 well-separated blobs, each containing one pair of
    near-identical vectors plus fillers — exactly the dropped/kept split
    the local twin predicts, cluster by cluster."""
    import pandas as pd

    from rtfproc_spark.functions.similarity import (
        kmeans_fit_local,
        semantic_dedup,
        semantic_dedup_local,
    )

    rng = np.random.RandomState(11)
    centers = rng.randn(3, 12) * 12
    rows, vecs = [], []
    vid = 0
    for b in range(3):
        base = centers[b] + rng.randn(12)
        # near-dup pair: tiny perturbation -> cosine ~ 1
        for v in (base, base + rng.randn(12) * 1e-3):
            rows.append((vid, [float(x) for x in v])); vecs.append(v); vid += 1
        for _ in range(6):
            v = centers[b] + rng.randn(12) * 3.0
            rows.append((vid, [float(x) for x in v])); vecs.append(v); vid += 1
    X = np.asarray(vecs, dtype=np.float64)
    C = kmeans_fit_local(X, nlist=3, seed=5)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(5)

    got = (
        semantic_dedup(df, C, threshold=0.9)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    exp = (
        semantic_dedup_local([r[0] for r in rows], X, C, threshold=0.9)
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"cluster": "int64"}), exp.astype({"cluster": "int64"})
    )
    # non-vacuous: every planted near-dup pair collapsed into one
    # component (vectors far from the origin share direction, so fillers
    # may join components too — the pin is the twin equality above)
    rep = dict(zip(exp["vec_id"], exp["rep_id"]))
    for b in range(3):
        assert rep[8 * b] == rep[8 * b + 1]
    assert int((~exp["keep"]).sum()) >= 3


def test_semantic_dedup_local_vs_independent(spark):
    """Certify the twin itself against an INDEPENDENTLY written oracle:
    GEMM cosines + BFS components over the same in-cluster edge rule (sims
    kept far from the round-4 threshold boundary so BLAS-vs-fold ulp
    differences cannot flip an edge)."""
    from collections import deque

    from rtfproc_spark.functions.similarity import (
        assign_clusters,
        kmeans_fit_local,
        semantic_dedup_local,
    )

    rng = np.random.RandomState(23)
    X = rng.randn(80, 10)
    # plant a few near-dup chains
    X[10] = X[3] + 1e-4 * rng.randn(10)
    X[11] = X[10] + 1e-4 * rng.randn(10)
    X[40] = X[41] + 1e-4 * rng.randn(10)
    C = kmeans_fit_local(X, nlist=4, seed=9)
    tau = 0.9
    twin = semantic_dedup_local(list(range(80)), X, C, threshold=tau)

    a = assign_clusters(X, C)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    assert not np.any((np.abs(S - tau) < 1e-6) & ~np.eye(80, dtype=bool))
    adj = {i: [] for i in range(80)}
    for i in range(80):
        for j in range(i + 1, 80):
            if a[i] == a[j] and S[i, j] >= tau:
                adj[i].append(j); adj[j].append(i)
    rep = {}
    for s in range(80):
        if s in rep:
            continue
        comp, q = [s], deque([s])
        seen = {s}
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in seen:
                    seen.add(v); comp.append(v); q.append(v)
        m = min(comp)
        for u in comp:
            rep[u] = m
    exp = {i: (rep[i] == i, rep[i]) for i in range(80)}
    got = {
        int(r.vec_id): (bool(r.keep), int(r.rep_id)) for r in twin.itertuples()
    }
    assert got == exp


def test_semantic_dedup_max_cluster_cap(spark):
    """A cluster over ``max_cluster`` is excluded from pair generation:
    every member is kept (the degenerate-cluster bound is a documented
    keep-all, never a silent quadratic join) while smaller clusters still
    dedup. The local twin applies the identical cap."""
    import pandas as pd

    from rtfproc_spark.functions.similarity import (
        kmeans_fit_local,
        semantic_dedup,
        semantic_dedup_local,
    )

    rng = np.random.RandomState(31)
    centers = rng.randn(2, 8) * 15
    rows, vecs = [], []
    vid = 0
    # big cluster: 10 members, all near-identical (would all collapse)
    for _ in range(10):
        v = centers[0] + rng.randn(8) * 1e-3
        rows.append((vid, [float(x) for x in v])); vecs.append(v); vid += 1
    # small cluster: one near-dup pair + 2 fillers
    base = centers[1] + rng.randn(8)
    for v in (base, base + rng.randn(8) * 1e-3):
        rows.append((vid, [float(x) for x in v])); vecs.append(v); vid += 1
    for _ in range(2):
        v = centers[1] + rng.randn(8) * 3.0
        rows.append((vid, [float(x) for x in v])); vecs.append(v); vid += 1
    X = np.asarray(vecs, dtype=np.float64)
    C = kmeans_fit_local(X, nlist=2, seed=7)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = (
        semantic_dedup(df, C, threshold=0.9, max_cluster=8)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    exp = (
        semantic_dedup_local(list(range(vid)), X, C, threshold=0.9, max_cluster=8)
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"cluster": "int64"}), exp.astype({"cluster": "int64"})
    )
    # the 10-member degenerate cluster is fully kept despite being
    # near-identical; the small cluster still dedups its planted pair
    assert got["keep"].iloc[:10].all()
    rep = dict(zip(got["vec_id"], got["rep_id"]))
    assert rep[10] == rep[11]
    assert int((~got["keep"]).sum()) >= 1


def test_unigram_logprob_hand_case(spark):
    """Tiny hand-computable corpus: counts a=3, b=2, c=1 (N=6); doc scores
    are means of round-6 token logprobs; whitespace-only doc is absent."""
    import math

    from rtfproc_spark.functions.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "  b C  "), (3, "a"), (4, "   ")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob(df).collect()
    }
    lp = {t: round(math.log(c / 6), 6) for t, c in {"a": 3, "b": 2, "c": 1}.items()}
    assert set(out) == {1, 2, 3}
    assert out[1] == (3, round((2 * lp["a"] + lp["b"]) / 3, 4))
    assert out[2] == (2, round((lp["b"] + lp["c"]) / 2, 4))
    assert out[3] == (1, round(lp["a"], 4))


def test_unigram_logprob_vocab_cap(spark):
    """vocab_size caps the LM to the top-V tokens (count desc, token asc
    ties); OOV tokens take the count-1 floor ln(1/N). The capped scoring
    join is a broadcast — the token stream never shuffles."""
    import math

    from rtfproc_spark.functions.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a a b b z"), (2, "q b a")], "doc_id long, text string"
    )
    # counts: a=4 b=3 z=1 q=1, N=9; V=2 keeps {a,b}; z/q -> ln(1/9)
    out = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob(df, vocab_size=2).collect()
    }
    la, lb = round(math.log(4 / 9), 6), round(math.log(3 / 9), 6)
    oov = round(math.log(1 / 9), 6)
    assert out[1] == (6, round((3 * la + 2 * lb + oov) / 6, 4))
    assert out[2] == (3, round((oov + lb + la) / 3, 4))

    plan = unigram_logprob(df, vocab_size=2)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_null_embedding_bypass(spark):
    """A NULL embedding carries no dedup signal: the row bypasses
    assignment/pairing entirely (kept, null cluster, own representative)
    instead of crashing the assignment kernel — the same bypass contract
    as the streaming near-dedup's null-text rule."""
    from rtfproc_spark.functions.similarity import kmeans_fit_local, semantic_dedup

    rng = np.random.RandomState(3)
    X = rng.randn(6, 8)
    X[1] = X[0] + 1e-4 * rng.randn(8)
    C = kmeans_fit_local(X, nlist=2, seed=1)
    rows = [(i, [float(x) for x in X[i]]) for i in range(6)]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cluster"], r["keep"], r["rep_id"])
        for r in semantic_dedup(df, C, threshold=0.9).collect()
    }
    assert len(got) == 8
    assert got[100] == (None, True, 100) and got[101] == (None, True, 101)
    # the planted pair still dedups among the non-null rows
    assert got[1] == (got[0][0], False, 0)


def test_loop_hop_payload_aggregation(spark):
    """Aggregate MEASURES over Kleene-loop hops (Flink's
    sum-over-oneOrMore) are a DataFrame COMPOSITION here, not a
    state-machine feature: bind='all' emits the hop ids, and the measure
    is explode(ids) + join back to the events + groupBy match — the
    Spark-first answer, checked against a hand-computed expectation."""
    import pandas as pd

    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = lambda mins: t0 + pd.Timedelta(minutes=mins)  # noqa: E731
    pdf = pd.DataFrame(
        [
            (1, 1, "view", m(0), 0.0),
            (2, 1, "click", m(1), 2.5),
            (3, 1, "click", m(2), 1.5),
            (4, 1, "buy", m(3), 9.9),
            (5, 2, "view", m(0), 0.0),
            (6, 2, "click", m(1), 4.0),
            (7, 2, "buy", m(2), 7.0),
            (8, 3, "view", m(0), 0.0),
            (9, 3, "buy", m(1), 3.0),   # zero hops -> no match (min_n=1)
        ],
        columns=["event_id", "user_id", "event_type", "ts", "value"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    ev = spark.createDataFrame(pdf)
    matches = match_sequence(
        ev,
        [
            F.col("event_type") == "view",
            LoopStep(pred=F.col("event_type") == "click", name="hop",
                     min_n=1, max_n=10, bind="all"),
            F.col("event_type") == "buy",
        ],
        ["user_id"],
        within="1 hour",
    )
    agg = (
        matches.select("user_id", "id_1", F.explode("hop_ids").alias("event_id"))
        .join(ev.select("event_id", "value"), "event_id")
        .groupBy("user_id", "id_1")
        .agg(F.sum("value").alias("hop_value"), F.count("*").alias("n_hops"))
    )
    got = {r["user_id"]: (r["hop_value"], r["n_hops"]) for r in agg.collect()}
    assert got == {1: (4.0, 2), 2: (4.0, 1)}


def test_match_sequence_batch_duplicate_measure_names_raise(spark):
    """The batch twin rejects duplicate measure names up front (two
    default-named loops, or a CountBetween colliding with a loop) with
    the stream twin's contract, instead of dying in Spark analysis with
    an ambiguous-reference error."""
    import pandas as pd

    from rtfproc_spark.operators.cep import (
        CountBetween,
        LoopStep,
        match_sequence,
    )

    pdf = pd.DataFrame(
        [(1, 1, "A", pd.Timestamp("2024-01-01"))],
        columns=["event_id", "user_id", "event_type", "ts"],
    )
    df = spark.createDataFrame(pdf)
    A = F.col("event_type") == "A"
    with pytest.raises(ValueError, match="duplicate output column"):
        match_sequence(
            df, [A, LoopStep(pred=A), A, LoopStep(pred=A), A],
            ["user_id"], within="1 hour",
        )
    with pytest.raises(ValueError, match="duplicate output column"):
        match_sequence(
            df, [A, LoopStep(pred=A, name="x"), A], ["user_id"],
            within="1 hour",
            counts=[CountBetween(pred=A, value="A", lo_step=1, hi_step=3,
                                 name="x")],
        )


def _anchor_loop_df(spark, rows):
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf)


def test_anchor_loop_batch_semantics(spark):
    """ANCHOR-position Kleene loop (A+ B): every A anchors its own match
    (per-row skip-to-next), the anchor counts as the first hop, measures
    fold it in (first IS the anchor, ids lead with it) and the closer is
    ts_2 — the pattern-as-written positions."""
    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    df = _anchor_loop_df(spark, [
        # user 1: A@1 A@2 B@3, A@4 after the closer (never counted)
        (1, 1, "A", "2024-01-01 00:01"),
        (2, 1, "A", "2024-01-01 00:02"),
        (3, 1, "B", "2024-01-01 00:03"),
        (4, 1, "A", "2024-01-01 00:04"),
        # user 2: a B BEFORE any A anchors nothing
        (5, 2, "B", "2024-01-01 00:01"),
        (6, 2, "A", "2024-01-01 00:02"),
        (7, 2, "B", "2024-01-01 00:03"),
    ])
    out = match_sequence(
        df,
        [LoopStep(pred=F.col("event_type") == "A", name="a", bind="all"),
         F.col("event_type") == "B"],
        ["user_id"], within="1 hour",
    )
    got = sorted(
        (r["user_id"], r["n_a"], r["first_a_id"], r["last_a_id"],
         tuple(r["a_ids"]), r["id_2"])
        for r in out.collect()
    )
    assert got == [
        (1, 1, 2, 2, (2,), 3),      # anchor A@2: one hop (itself)
        (1, 2, 1, 2, (1, 2), 3),    # anchor A@1: hops 1,2; A@4 excluded
        (2, 1, 6, 6, (6,), 7),
    ]
    assert "ts_1" not in out.columns and "id_1" not in out.columns


def test_anchor_loop_min_n_ignores_short_closer(spark):
    """A{2,} B: a closer candidate seen while the total hop count is
    still short is IGNORED (the loop keeps accumulating), exactly the
    middle-loop rule with the anchor counting as hop one."""
    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    df = _anchor_loop_df(spark, [
        (1, 1, "A", "2024-01-01 00:01"),
        (2, 1, "B", "2024-01-01 00:02"),  # total hops 1 < 2: ignored
        (3, 1, "A", "2024-01-01 00:03"),
        (4, 1, "B", "2024-01-01 00:04"),  # total 2: closes
    ])
    out = match_sequence(
        df,
        [LoopStep(pred=F.col("event_type") == "A", name="a", min_n=2,
                  bind="all"),
         F.col("event_type") == "B"],
        ["user_id"], within="1 hour",
    )
    got = [(r["n_a"], tuple(r["a_ids"]), r["id_2"]) for r in out.collect()]
    assert got == [(2, (1, 3), 4)]  # anchor A@3 never reaches 2 hops


def test_anchor_loop_max_n_caps_total(spark):
    """A{1,2} B over four A's: the TOTAL hop count (anchor included) caps
    at max_n; every A still anchors its own overlapping match."""
    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    rows = [(i, 1, "A", f"2024-01-01 00:0{i}") for i in range(1, 5)]
    rows.append((9, 1, "B", "2024-01-01 00:09"))
    df = _anchor_loop_df(spark, rows)
    out = match_sequence(
        df,
        [LoopStep(pred=F.col("event_type") == "A", name="a", max_n=2,
                  bind="all"),
         F.col("event_type") == "B"],
        ["user_id"], within="1 hour",
    )
    got = sorted(
        (r["first_a_id"], r["n_a"], tuple(r["a_ids"])) for r in out.collect()
    )
    assert got == [
        (1, 2, (1, 2)), (2, 2, (2, 3)), (3, 2, (3, 4)), (4, 1, (4,)),
    ]


def test_anchor_loop_only_pattern_horizon(spark):
    """A pattern that is ONLY a loop (A{2,}) closes at the anchor
    horizon: anchor plus every further A inside ``within``, emitted iff
    the total reaches min_n."""
    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    df = _anchor_loop_df(spark, [
        (1, 1, "A", "2024-01-01 00:01"),
        (2, 1, "A", "2024-01-01 00:02"),
        (4, 1, "A", "2024-01-01 00:40"),  # outside anchor@1/@2's 30 min
    ])
    out = match_sequence(
        df,
        [LoopStep(pred=F.col("event_type") == "A", name="a", min_n=2,
                  bind="all")],
        ["user_id"], within="30 minutes",
    )
    got = sorted(
        (r["first_a_id"], r["n_a"], tuple(r["a_ids"])) for r in out.collect()
    )
    # anchor@1 sees A@2 (2 hops); anchor@2 sees nothing more inside 30m
    # except A@40? 00:02+30m = 00:32 < 00:40 -> no; anchor@40 alone: 1 hop
    assert got == [(1, 2, (1, 2))]


def test_anchor_loop_count_indices_refer_to_pattern_as_written(spark):
    """CountBetween indices over an anchor-loop pattern keep referring to
    the user's step numbering ([Loop, B, C]: lo=2, hi=3 counts between B
    and C), and a count anchored on the loop (step 1) raises."""
    from rtfproc_spark.operators.cep import (
        CountBetween,
        LoopStep,
        match_sequence,
    )

    df = _anchor_loop_df(spark, [
        (1, 1, "A", "2024-01-01 00:01"),
        (2, 1, "B", "2024-01-01 00:02"),
        (3, 1, "x", "2024-01-01 00:03"),
        (4, 1, "x", "2024-01-01 00:04"),
        (5, 1, "C", "2024-01-01 00:05"),
    ])
    loop = LoopStep(pred=F.col("event_type") == "A", name="a")
    out = match_sequence(
        df,
        [loop, F.col("event_type") == "B", F.col("event_type") == "C"],
        ["user_id"], within="1 hour",
        counts=[CountBetween(pred=F.col("event_type") == "x", value="x",
                             lo_step=2, hi_step=3, name="xs")],
    )
    got = [(r["n_a"], r["id_2"], r["id_3"], r["n_xs"]) for r in out.collect()]
    assert got == [(1, 2, 5, 2)]
    with pytest.raises(ValueError, match="non-loop steps"):
        match_sequence(
            df,
            [loop, F.col("event_type") == "B", F.col("event_type") == "C"],
            ["user_id"], within="1 hour",
            counts=[CountBetween(pred=F.col("event_type") == "x", value="x",
                                 lo_step=1, hi_step=3, name="xs")],
        )


def test_anchor_loop_validations(spark):
    """Anchor-loop contract: A* cannot anchor (min_n >= 1); an only-loop
    pattern needs min_n >= 2 and bind measures; two consecutive loops
    stay rejected."""
    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    df = _anchor_loop_df(spark, [(1, 1, "A", "2024-01-01 00:01")])
    A = F.col("event_type") == "A"
    B = F.col("event_type") == "B"
    with pytest.raises(ValueError, match="min_n >= 1"):
        match_sequence(df, [LoopStep(pred=A, min_n=0), B], ["user_id"],
                       within="1 hour")
    with pytest.raises(ValueError, match="min_n >= 2"):
        match_sequence(df, [LoopStep(pred=A)], ["user_id"], within="1 hour")
    with pytest.raises(ValueError, match="bind measures"):
        match_sequence(df, [LoopStep(pred=A, min_n=2, bind=False)],
                       ["user_id"], within="1 hour")
    with pytest.raises(ValueError, match="consecutive steps"):
        match_sequence(df, [LoopStep(pred=A), LoopStep(pred=B, name="b"), A],
                       ["user_id"], within="1 hour")


def test_loop_body_alternation_list_pred(spark):
    """A loop body may be a LIST of Columns — the (B|C)+ alternation
    body, batch twin of the stream's tuple value: identical to a single
    OR'd predicate (hops record no branch), in middle and anchor
    position alike."""
    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    df = _anchor_loop_df(spark, [
        (1, 1, "A", "2024-01-01 00:01"),
        (2, 1, "B", "2024-01-01 00:02"),
        (3, 1, "C", "2024-01-01 00:03"),
        (4, 1, "B", "2024-01-01 00:04"),
        (5, 1, "D", "2024-01-01 00:05"),
    ])
    B, C = F.col("event_type") == "B", F.col("event_type") == "C"
    both = (F.col("event_type") == "B") | (F.col("event_type") == "C")
    for steps_list, steps_or in [
        (  # middle position: A (B|C)+ D
            [F.col("event_type") == "A",
             LoopStep(pred=[B, C], name="bc", bind="all"),
             F.col("event_type") == "D"],
            [F.col("event_type") == "A",
             LoopStep(pred=both, name="bc", bind="all"),
             F.col("event_type") == "D"],
        ),
        (  # anchor position: (B|C)+ D
            [LoopStep(pred=[B, C], name="bc", bind="all"),
             F.col("event_type") == "D"],
            [LoopStep(pred=both, name="bc", bind="all"),
             F.col("event_type") == "D"],
        ),
    ]:
        got = sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in match_sequence(df, steps_list, ["user_id"],
                                    within="1 hour").collect()
        )
        want = sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in match_sequence(df, steps_or, ["user_id"],
                                    within="1 hour").collect()
        )
        assert got == want and got
    # middle form binds hops 2,3,4 for the anchor at A@1
    mid = match_sequence(
        df,
        [F.col("event_type") == "A",
         LoopStep(pred=[B, C], name="bc", bind="all"),
         F.col("event_type") == "D"],
        ["user_id"], within="1 hour",
    ).collect()
    assert [tuple(r["bc_ids"]) for r in mid] == [(2, 3, 4)]


def test_strict_contiguity_batch(spark):
    """strict_steps (Flink's next() / MATCH_RECOGNIZE default adjacency):
    a strict step must be matched by the key's very NEXT event — any
    intervening event of ANY type kills the match; an event sharing the
    previous step's timestamp neither matches nor kills; same-ts
    ordering is by id."""
    from rtfproc_spark.operators.cep import match_sequence

    df = _anchor_loop_df(spark, [
        # user 1: x between B and C -> strict step 3 kills
        (1, 1, "A", "2024-01-01 00:01"),
        (2, 1, "B", "2024-01-01 00:02"),
        (3, 1, "x", "2024-01-01 00:03"),
        (4, 1, "C", "2024-01-01 00:04"),
        # user 2: fully contiguous
        (5, 2, "A", "2024-01-01 00:01"),
        (6, 2, "B", "2024-01-01 00:02"),
        (7, 2, "C", "2024-01-01 00:03"),
        # user 3: same-ts pair x(id8) < B(id9): next event is x -> strict
        # step 2 kills (id order decides "next" at equal ts)
        (10, 3, "A", "2024-01-01 00:01"),
        (8, 3, "x", "2024-01-01 00:02"),
        (9, 3, "B", "2024-01-01 00:02"),
        (11, 3, "C", "2024-01-01 00:03"),
        # user 4: x at the SAME ts as matched A -> outside the open
        # boundary, neither matches nor kills
        (12, 4, "A", "2024-01-01 00:01"),
        (13, 4, "x", "2024-01-01 00:01"),
        (14, 4, "B", "2024-01-01 00:02"),
        (15, 4, "C", "2024-01-01 00:03"),
    ])
    steps = [F.col("event_type") == c for c in "ABC"]
    relaxed = sorted(
        r["user_id"]
        for r in match_sequence(df, steps, ["user_id"],
                                within="1 hour").collect()
    )
    assert relaxed == [1, 2, 3, 4]
    s3 = sorted(
        r["user_id"]
        for r in match_sequence(df, steps, ["user_id"], within="1 hour",
                                strict_steps={3}).collect()
    )
    assert s3 == [2, 3, 4]
    cont = sorted(
        r["user_id"]
        for r in match_sequence(df, steps, ["user_id"], within="1 hour",
                                contiguous=True).collect()
    )
    assert cont == [2, 4]


def test_strict_contiguity_validations(spark):
    """Strict-step contract: the anchor, a loop/optional, or the step
    right after one cannot be strict."""
    from rtfproc_spark.operators.cep import LoopStep, match_sequence

    df = _anchor_loop_df(spark, [(1, 1, "A", "2024-01-01 00:01")])
    A, B, C = (F.col("event_type") == c for c in "ABC")
    with pytest.raises(ValueError, match="anchor cannot be strict"):
        match_sequence(df, [A, B], ["user_id"], within="1 hour",
                       strict_steps={1})
    with pytest.raises(ValueError, match="cannot be strict"):
        match_sequence(df, [A, LoopStep(pred=B), C], ["user_id"],
                       within="1 hour", strict_steps={2})
    with pytest.raises(ValueError, match="after a loop"):
        match_sequence(df, [A, LoopStep(pred=B), C], ["user_id"],
                       within="1 hour", strict_steps={3})
    with pytest.raises(ValueError, match="after a loop"):
        match_sequence(df, [A, B, C], ["user_id"], within="1 hour",
                       optional_steps={2}, strict_steps={3})
    # a strict step NOT adjacent to the loop is fine
    out = match_sequence(
        _anchor_loop_df(spark, [
            (1, 1, "A", "2024-01-01 00:01"),
            (2, 1, "B", "2024-01-01 00:02"),
            (3, 1, "C", "2024-01-01 00:03"),
            (4, 1, "D", "2024-01-01 00:04"),
        ]),
        [A, LoopStep(pred=B), C, F.col("event_type") == "D"],
        ["user_id"], within="1 hour", strict_steps={4},
    )
    assert out.count() == 1


def test_match_permutation(spark):
    """PERMUTE(A, B, C): steps match in any order; the lexicographically
    first ordering wins per starting row; output binds variables by
    ORIGINAL index regardless of position."""
    from rtfproc_spark.operators.cep import match_permutation

    df = _anchor_loop_df(spark, [
        # user 1: B A C -> only ordering (B,A,C) (perm_idx 2) matches,
        # starting at B@1
        (1, 1, "B", "2024-01-01 00:01"),
        (2, 1, "A", "2024-01-01 00:02"),
        (3, 1, "C", "2024-01-01 00:03"),
        # user 2: A B C B -> orderings (A,B,C) and (A,C,B) both match from
        # A@1; the lexicographically first (perm_idx 0) wins, one row
        (4, 2, "A", "2024-01-01 00:01"),
        (5, 2, "B", "2024-01-01 00:02"),
        (6, 2, "C", "2024-01-01 00:03"),
        (7, 2, "B", "2024-01-01 00:04"),
    ])
    A, B, C = (F.col("event_type") == c for c in "ABC")
    out = match_permutation(df, [A, B, C], ["user_id"], within="1 hour")
    got = {
        r["user_id"]: (r["perm_idx"], r["id_s1"], r["id_s2"], r["id_s3"])
        for r in out.collect()
    }
    assert got == {1: (2, 2, 1, 3), 2: (0, 4, 5, 6)}
    # contiguous PERMUTE: an interloper kills
    df2 = _anchor_loop_df(spark, [
        (1, 1, "B", "2024-01-01 00:01"),
        (2, 1, "x", "2024-01-01 00:02"),
        (3, 1, "A", "2024-01-01 00:03"),
        (4, 1, "C", "2024-01-01 00:04"),
        (5, 2, "B", "2024-01-01 00:01"),
        (6, 2, "A", "2024-01-01 00:02"),
        (7, 2, "C", "2024-01-01 00:03"),
    ])
    out2 = match_permutation(df2, [A, B, C], ["user_id"], within="1 hour",
                             contiguous=True)
    assert [r["user_id"] for r in out2.collect()] == [2]
    with pytest.raises(ValueError, match="2..4"):
        match_permutation(df, [A], ["user_id"])


def test_match_permutation_bruteforce_differential(spark):
    """PERMUTE over a random soup must equal a nested-loop reference:
    per starting row, try every ordering lexicographically with the
    greedy first-match-after walk; first full ordering wins."""
    import random
    from datetime import datetime, timedelta
    from itertools import permutations

    import pandas as pd

    from rtfproc_spark.operators.cep import match_permutation

    rng = random.Random(3141)
    t0 = datetime(2024, 1, 1)
    rows = [
        (
            i,
            rng.randrange(6),
            rng.choice(["A", "B", "C", "x"]),
            t0 + timedelta(seconds=rng.randrange(240) * 10),
        )
        for i in range(400)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    types = ["A", "B", "C"]
    within_ns = 20 * 60 * 10**9

    by_key: dict = {}
    for i, u, typ, ts in rows:
        by_key.setdefault(u, []).append((int(pd.Timestamp(ts).value), i, typ))
    want = set()
    for u, evs in by_key.items():
        evs.sort()
        for ai, (t0n, i0, ty0) in enumerate(evs):
            for pi, perm in enumerate(permutations(range(3))):
                if ty0 != types[perm[0]]:
                    continue
                hops = [(t0n, i0)]
                prev = t0n
                ok = True
                for p in perm[1:]:
                    got = None
                    for t, i, typ in evs[ai + 1:]:
                        if t > t0n + within_ns:
                            break
                        if typ == types[p] and t > prev:
                            got = (t, i)
                            break
                    if got is None:
                        ok = False
                        break
                    hops.append(got)
                    prev = got[0]
                if ok:
                    bound = [None] * 3
                    for pos, p in enumerate(perm):
                        bound[p] = hops[pos][1]
                    want.add((u, pi, *bound))
                    break  # lexicographically first ordering wins
    got = {
        (r["user_id"], r["perm_idx"], r["id_s1"], r["id_s2"], r["id_s3"])
        for r in match_permutation(
            spark.createDataFrame(pdf),
            [F.col("event_type") == t for t in types],
            ["user_id"], within="20 minutes",
        ).collect()
    }
    assert want and got == want


def test_connected_components_small_graph_gate_matches_loop(spark):
    """Round-9: the size-adaptive single-task union-find (edge count <=
    small_graph_edges) must return exactly the distributed min-label
    loop's labels. Random multi-component graph with chains, cycles and
    duplicate/reversed edges; the loop path is forced via
    small_graph_edges=0."""
    import random

    from rtfproc_spark.functions.dedup import connected_components

    rng = random.Random(99)
    edges = set()
    # 30 components: chains of length 1..8 over disjoint id ranges
    nxt = 0
    for _ in range(30):
        ln = rng.randrange(1, 9)
        ids = [nxt + i * 7 for i in range(ln + 1)]
        nxt = ids[-1] + 13
        for a, b in zip(ids, ids[1:]):
            if rng.random() < 0.5:
                a, b = b, a
            edges.add((a, b))
        if ln >= 3 and rng.random() < 0.5:
            edges.add((ids[0], ids[-1]))  # cycle
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    small = sorted(
        (r["id"], r["component"])
        for r in connected_components(pairs).collect()
    )
    loop = sorted(
        (r["id"], r["component"])
        for r in connected_components(pairs, small_graph_edges=0).collect()
    )
    assert small == loop and len(small) > 30

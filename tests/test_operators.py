"""Operator unit tests on tiny in-memory DataFrames (the reference's
mock-reducer style, lib.rs:1028-1192)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


def test_asof_join_basic(spark):
    from kafka_map_reduce_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c")], "k int, ts int, lbl string"
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 15, 200), (1, 20, 300), (2, 99, 400)],
        "k int, ts int, payload int",
    )
    out = {
        (r.lbl): r.r_payload
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts", right_cols=["payload"]
        ).collect()
    }
    assert out == {"a": 100, "b": 300, "c": None}  # <=, latest wins, no-match null


def test_cosine_matches_numpy(spark):
    import numpy as np

    from kafka_map_reduce_spark.operators.similarity import cosine

    a = [0.5, -1.0, 2.0, 0.25]
    b = [1.0, 0.5, -0.5, 3.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).first().c
    want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert math.isclose(got, want, rel_tol=1e-12)


def test_cosine_zero_norm_is_zero_not_nan(spark):
    """A zero embedding (hash-embed of empty text) must score 0, never
    NaN — Spark orders NaN LARGEST, so a NaN sim would rank a zero-norm
    doc FIRST in every desc top-k while the DuckDB oracles (which guard
    with greatest(.., 1e-12)) rank it last."""
    from kafka_map_reduce_spark.operators.similarity import cosine

    df = spark.createDataFrame(
        [([0.0, 0.0, 0.0], [1.0, 2.0, 3.0])],
        "a array<double>, b array<double>",
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).first().c
    assert got == 0.0 and not math.isnan(got)


def test_simhash_identical_docs_distance_zero(spark):
    from kafka_map_reduce_spark.operators.dedup import hamming_pairs, simhash

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "utterly different words entirely")],
        "doc_id long, text string",
    )
    sig = simhash(df, "text", "doc_id")
    pairs = {(r.id_a, r.id_b): r.dist for r in hamming_pairs(sig, max_dist=0).collect()}
    assert pairs == {(1, 2): 0}


def test_minhash_lsh_finds_planted_near_dup(spark):
    from kafka_map_reduce_spark.operators import dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("gamma", "GAMMA2", 1)  # one shingle neighborhood changed
    far = "one two three four five six seven eight nine ten " * 3
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sh = D.word_shingles(df, "text", "doc_id")
    sigs = D.minhash_signatures(sh, num_perm=64)
    cands = D.lsh_candidates(sigs, num_perm=64, bands=16)
    verified = D.jaccard_verify(cands, sh, min_jaccard=0.5).collect()
    assert {(r.id_a, r.id_b) for r in verified} == {(1, 2)}
    assert all(0.5 <= r.jaccard <= 1.0 for r in verified)


def test_exact_dedup_normalization(spark):
    from kafka_map_reduce_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "  hello world  "), (3, "HELLO WORLD"), (4, "bye")],
        "doc_id long, text string",
    )
    out = {r.keep_id: r.dup_cnt for r in exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 3, 4: 1}


def test_ivf_is_subset_of_brute_force_universe(spark):
    from kafka_map_reduce_spark.operators.similarity import brute_force_topk, ivf_topk
    from kafka_map_reduce_spark.sources import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes, corpus = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(probes, corpus, k=5).collect()
    approx = ivf_topk(probes, corpus, k=5).collect()
    assert len(exact) == 25
    # IVF returns <= k per probe, only same-bucket neighbors, ranks valid
    assert all(1 <= r.rank <= 5 for r in approx)


def test_quality_score_bounds(spark):
    from kafka_map_reduce_spark.operators.text import quality_score

    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",), ("",), ("a b! c?",)],
        "text string",
    )
    vals = [r.q for r in df.select(quality_score(F.col("text")).alias("q")).collect()]
    assert all(v is None or 0.0 <= v <= 1.0 for v in vals)


def test_repetition_score_exact_values(spark):
    """repetition_score = 1 - distinct/total 3-grams; degenerate inputs
    (fewer than 3 tokens, empty, NULL) are 0.0, never an error — gates
    must be total functions over dirty corpora."""
    from kafka_map_reduce_spark.operators.text import repetition_score

    df = spark.createDataFrame(
        [
            ("a b c a b c a b c",),  # 7 grams, 3 distinct -> 1 - 3/7
            ("one two three four",),  # 2 grams, both distinct -> 0.0
            ("too short",),
            ("",),
            (None,),
        ],
        "text string",
    )
    vals = [r.r for r in df.select(repetition_score(F.col("text")).alias("r")).collect()]
    assert abs(vals[0] - (1 - 3 / 7)) < 1e-12
    assert vals[1:] == [0.0, 0.0, 0.0, 0.0]


def test_lang_id_matches_python_reference_and_stays_jvm(spark):
    """lang_id is a pure JVM expression: (a) outputs must match the
    per-row Python heuristic it replaced (same stopword profiles, same
    (score, code) argmax tie-break, CJK probe on the first 200 chars,
    und/en fallbacks) across edge cases; (b) its plan must contain no
    Python eval node — the whole point of the rewrite."""
    from kafka_map_reduce_spark.operators.text import _LANG_PROFILES, lang_id

    def reference(s):  # the retired pandas-UDF heuristic, verbatim
        if not s:
            return "und"
        if any("一" <= ch <= "鿿" for ch in s[:200]):
            return "zh"
        toks = set(s.lower().split())
        scores = {lang: len(toks & set(p)) for lang, p in _LANG_PROFILES.items()}
        best = max(scores.items(), key=lambda kv: (kv[1], kv[0]))
        return best[0] if best[1] > 0 else "en"

    cases = [
        "the cat is on the mat and in the hat",
        "der hund ist nicht das problem und die katze",
        "le chat est sur les toits et des choses",
        "el perro que corre de los campos es feliz",
        "这是一个中文文档",                      # CJK in head
        ("x " * 250) + "中文",                  # CJK only BEYOND char 200
        "",                                     # empty -> und
        "   ",                                  # whitespace-only -> en
        "zzz qqq www",                          # no stopword hit -> en
        "la de",        # tie: la hits fr+es, de hits es... (score,code) argmax
        "the der le el la",                     # multi-language collision
        "est la les de la",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [r.p for r in df.select(lang_id(F.col("text")).alias("p")).collect()]
    assert got == [reference(c) for c in cases]

    plan = df.select(lang_id(F.col("text"))) ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_multimodal_decode_shapes(spark):
    from kafka_map_reduce_spark.operators.multimodal import (
        FEATURE_DIM,
        attach_media,
        decode_features,
    )
    from kafka_map_reduce_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(10)
    out = decode_features(attach_media(docs)).collect()
    assert len(out) == 10
    assert all(len(r.features) == FEATURE_DIM for r in out)
    assert all(r.byte_len > 0 for r in out)


def test_salted_join_equals_plain_join(spark):
    from kafka_map_reduce_spark.operators.skew import salted_join
    from kafka_map_reduce_spark.sources import Tables

    t = Tables(spark, "/root/testdata/sf0.001")
    plain = (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey)
        .select("o_orderkey", "c_custkey")
    )
    salted = salted_join(
        t.orders.withColumnRenamed("o_custkey", "c_custkey"),
        t.customer,
        on=["c_custkey"],
        buckets=8,
    ).select("o_orderkey", "c_custkey")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_round4_compat_property():
    """Property: the floor-round4 formula is bit-identical between Spark's
    JVM doubles and DuckDB — the invariant the whole oracle gate rests on."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()

    @settings(max_examples=200, deadline=None)
    @given(st.floats(min_value=0, max_value=1e9, allow_nan=False))
    def prop(x):
        import math

        py = math.floor(x * 10000 + 0.5) / 10000
        duck = con.execute("SELECT floor(? * 10000 + 0.5) / 10000", [x]).fetchone()[0]
        assert py == duck

    prop()


def test_hamming_pairs_rejects_incomplete_radius(spark):
    """The 4-block pigeonhole only guarantees candidate completeness for
    max_dist <= 3; larger radii must be rejected, not silently lossy."""
    import pytest

    from kafka_map_reduce_spark.operators.dedup import hamming_pairs

    sim = spark.createDataFrame([(1, 0), (2, 15)], "id long, simhash long")
    with pytest.raises(ValueError, match="max_dist"):
        hamming_pairs(sim, 4)
    assert hamming_pairs(sim, 3).count() == 0  # dist=4: correctly out of radius


def test_lsh_hot_band_cap(spark):
    """Template-cluster guard: a band bucket holding a planted clone
    cluster is dropped when max_bucket_size is set, while genuine small-
    bucket near-dup pairs survive; default (None) keeps everything."""
    from kafka_map_reduce_spark.operators.dedup import (
        lsh_candidates,
        minhash_signatures,
        word_shingles,
    )

    template = "the quick brown fox jumps over the lazy dog every single day"
    rows = [(i, template) for i in range(12)]  # hot bucket: 12 clones
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    sig = minhash_signatures(
        word_shingles(spark.createDataFrame(rows, "doc_id long, text string"), "text", "doc_id")
    )
    uncapped = {(r.id_a, r.id_b) for r in lsh_candidates(sig).collect()}
    capped = {
        (r.id_a, r.id_b) for r in lsh_candidates(sig, max_bucket_size=10).collect()
    }
    assert (100, 101) in uncapped and any(a < 100 for a, _ in uncapped)
    assert (100, 101) in capped  # small-bucket pair survives the cap
    assert all(a >= 100 for a, _ in capped)  # clone-cluster pairs dropped


def test_lsh_hot_band_cap_keeps_candidates_linear(spark):
    """Quantitative skew guard: a planted 60-clone template cluster emits
    O(N^2) candidate pairs uncapped (>= C(60,2)), but with
    max_bucket_size=16 the candidate count stays below a small linear
    bound — the property that makes LSH survive boilerplate at 100 TB."""
    from kafka_map_reduce_spark.operators.dedup import (
        lsh_candidates,
        minhash_signatures,
        word_shingles,
    )

    template = (
        "terms of service boilerplate paragraph repeated across the corpus "
        "all rights reserved governing law severability entire agreement"
    )
    rows = [(i, template) for i in range(60)]
    rows += [
        (1000 + i, f"organic document {i} discussing topic{i} with unique "
                   f"words w{i * 7} w{i * 13} w{i * 29} and its own phrasing")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(word_shingles(docs, "text", "doc_id"))
    uncapped = lsh_candidates(sig).count()
    capped = lsh_candidates(sig, max_bucket_size=16).count()
    assert uncapped >= 60 * 59 // 2  # quadratic in the cluster size
    assert capped <= len(rows)  # linear bound: cluster buckets dropped


def test_simhash_hot_block_cap(spark):
    """Qualitative skew guard (SimHash twin of the LSH hot-band cap): a
    planted clone cluster shares all four 16-bit blocks, so every one of
    its (block, value) buckets is over-full and is dropped when
    max_bucket_size is set, while a genuine small-bucket near-dup pair
    survives; default (None) keeps everything."""
    from kafka_map_reduce_spark.operators.dedup import hamming_pairs, simhash

    template = "terms of service boilerplate all rights reserved entire agreement"
    rows = [(i, template) for i in range(30)]  # hot buckets: 30 clones
    pair_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows += [(100, pair_text), (101, pair_text)]  # distance-0 pair, bucket size 2
    sim = simhash(
        spark.createDataFrame(rows, "doc_id long, text string"), "text", "doc_id"
    )
    uncapped = {(r.id_a, r.id_b) for r in hamming_pairs(sim, 3).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in hamming_pairs(sim, 3, max_bucket_size=16).collect()
    }
    assert (100, 101) in uncapped and any(a < 100 for a, _ in uncapped)
    assert (100, 101) in capped  # small-bucket pair survives the cap
    assert all(a >= 100 for a, _ in capped)  # clone-cluster pairs dropped


def test_simhash_hot_block_cap_keeps_candidates_linear(spark):
    """Quantitative skew guard: a planted 60-clone template cluster emits
    O(N^2) pairs uncapped (>= C(60,2)), but with max_bucket_size=16 the
    pair count stays below a small linear bound — the property that makes
    the SimHash path survive boilerplate duplication at 100 TB."""
    from kafka_map_reduce_spark.operators.dedup import hamming_pairs, simhash

    template = (
        "terms of service boilerplate paragraph repeated across the corpus "
        "all rights reserved governing law severability entire agreement"
    )
    rows = [(i, template) for i in range(60)]
    rows += [
        (1000 + i, f"organic document {i} discussing topic{i} with unique "
                   f"words w{i * 7} w{i * 13} w{i * 29} and its own phrasing")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sim = simhash(docs, "text", "doc_id")
    uncapped = hamming_pairs(sim, 3).count()
    capped = hamming_pairs(sim, 3, max_bucket_size=16).count()
    assert uncapped >= 60 * 59 // 2  # quadratic in the cluster size
    assert capped <= len(rows)  # linear bound: cluster buckets dropped


def test_ranked_topk_matches_numpy(spark):
    """The two-stage (partition-local prune + final rank) top-k must be
    exactly the naive global top-k."""
    import numpy as np

    from kafka_map_reduce_spark.operators.similarity import brute_force_topk
    from kafka_map_reduce_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    probes = emb.filter("vec_id < 3")
    got = brute_force_topk(probes, emb, 5).collect()

    mat = np.array(
        [r.embedding for r in emb.orderBy("vec_id").collect()], dtype="float64"
    )
    ids = [r.vec_id for r in emb.orderBy("vec_id").collect()]
    norms = np.linalg.norm(mat, axis=1)
    for pid in range(3):
        sims = (mat @ mat[ids.index(pid)]) / (norms * norms[ids.index(pid)])
        order = sorted(zip(-sims, ids))[:5]  # sim desc, neighbor_id asc
        expect = [i for _, i in order]
        mine = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank) if r.probe_id == pid]
        assert mine == expect, f"probe {pid}: {mine} != {expect}"


def test_connected_components_clusters(spark):
    """Planted chain a-b-c plus isolated d: one 3-cluster labeled by its
    min id, one singleton."""
    from kafka_map_reduce_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(2, 1), (2, 3)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (2,), (3,), (9,)], "id long")
    got = {r.id: r.cluster_id for r in connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_sample_frames_reassembles_original(spark):
    """every_n=1 frame sampling must tile back to the exact source bytes
    (lossless chunking contract); every_n=2 keeps only even frames."""
    from kafka_map_reduce_spark.operators.multimodal import attach_media, sample_frames
    from kafka_map_reduce_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").filter("doc_id < 20")
    media = attach_media(docs)
    src = {r.doc_id: bytes(r.media) for r in media.collect()}

    all_frames = sample_frames(media, frame_size=64, every_n=1).collect()
    by_doc = {}
    for r in sorted(all_frames, key=lambda r: (r.doc_id, r.frame_idx)):
        by_doc.setdefault(r.doc_id, b"")
        by_doc[r.doc_id] += bytes(r.frame)
    assert by_doc == {k: v for k, v in src.items() if v}

    sampled = sample_frames(media, frame_size=64, every_n=2).collect()
    assert all(r.frame_idx % 2 == 0 for r in sampled)


def test_resize_media_area_ratio(spark):
    """Fake resize follows the pixel-area ratio in both directions."""
    from kafka_map_reduce_spark.operators.multimodal import attach_media, resize_media
    from kafka_map_reduce_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").filter("doc_id < 10")
    media = attach_media(docs)
    src = {r.doc_id: (len(bytes(r.media)), r.width, r.height) for r in media.collect()}
    out = {r.doc_id: r.byte_len for r in resize_media(media, 64, 48).collect()}
    for d, (n, w, h) in src.items():
        expect = max(1, int(n * ((64 * 48) / float(w * h))))
        assert out[d] == expect, f"doc {d}"


def test_interval_bucket_join_equals_theta(spark):
    """Bucketed interval join == naive range theta join (including rows
    that straddle bucket boundaries), with no duplicate pairs."""
    from kafka_map_reduce_spark.operators.rangejoin import interval_bucket_join

    left = spark.createDataFrame(
        [(1, "k", "2024-01-01 00:00:59"), (2, "k", "2024-01-01 00:04:30"),
         (3, "x", "2024-01-01 00:00:00")],
        "lid long, k string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(10, "k", "2024-01-01 00:01:00"),   # within 60s of lid=1 (straddles bucket)
         (11, "k", "2024-01-01 00:05:20"),   # within 60s of lid=2
         (12, "k", "2024-01-01 00:02:30"),   # matches nothing within 60s
         (13, "x", "2024-01-01 00:00:30")],  # different key group
        "rid long, k string, rts string",
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    got = sorted(
        (r.lid, r.rid)
        for r in interval_bucket_join(left, right, ["k"], "ts", "rts", 60).collect()
    )
    naive = sorted(
        (r.lid, r.rid)
        for r in left.join(
            right,
            (left["k"] == right["k"])
            & (right["rts"] >= left["ts"])
            & (right["rts"] <= left["ts"] + F.expr("INTERVAL 60 SECONDS")),
        ).collect()
    )
    assert got == naive == [(1, 10), (2, 11), (3, 13)]


def test_lsh_scale_smoke(spark):
    """Scale smoke: the full MinHash-LSH pipeline over 20k synthetic docs
    (40x the fixture tables) stays bucketed — it must complete quickly and
    find exactly the planted near-dup pairs without drowning in
    candidates. Guards against accidental all-pairs regressions that the
    500-doc fixtures would never expose."""
    import time

    from kafka_map_reduce_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidates,
        minhash_signatures,
        word_shingles,
    )

    # 20k distinct docs: 12 words derived from the doc id -> no accidental
    # near-dups; plant pairs by cloning doc 10i -> id 100000+i with one
    # word changed (high Jaccard).
    base = spark.range(20000).selectExpr(
        "id AS doc_id",
        """array_join(transform(sequence(0, 11),
           i -> concat('w', CAST(id AS STRING), '_', CAST(i AS STRING))), ' ')
           AS text""",
    )
    clones = base.filter("doc_id % 1000 = 0").selectExpr(
        "doc_id + 100000 AS doc_id", "concat(text, ' tail') AS text"
    )
    docs = base.unionByName(clones)

    t0 = time.time()
    sh = word_shingles(docs, "text", "doc_id", k=3)
    cands = lsh_candidates(minhash_signatures(sh), max_bucket_size=50)
    pairs = jaccard_verify(cands, sh, 0.5).collect()
    elapsed = time.time() - t0

    expect = {(i, i + 100000) for i in range(0, 20000, 1000)}
    assert {(r.id_a, r.id_b) for r in pairs} == expect
    assert elapsed < 120, f"LSH at 20k docs took {elapsed:.0f}s — plan regressed?"


@pytest.mark.parametrize("name", ["q_dedup_near", "q_dedup_near_capped"])
def test_minhash_rows_warm_build_starts_no_job(spark, name):
    """Building a MinHash row starts no Spark job once the session is
    warm: the plan has no size switch, so nothing is counted at build
    time. The first build warms the session; the second is counted by
    job group."""
    from kafka_map_reduce_spark.registry import all_queries

    fn = all_queries()[name].fn
    fn(spark, SF_CORRECT)
    sc = spark.sparkContext
    group = f"warm-build-{name}"
    sc.setJobGroup(group, group)
    try:
        fn(spark, SF_CORRECT)
    finally:
        sc._jsc.sc().clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_connected_components_raises_on_non_convergence(spark):
    """A graph the star loop cannot contract within max_iter rounds must
    fail loudly, not return split clusters."""
    import pytest

    from kafka_map_reduce_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(9)], "id long")
    # non-convergence is a property of the DISTRIBUTED loop; force past
    # the driver-local union-find gate (which has no iteration bound).
    # A chain is not a star, so one round cannot reach the fixpoint.
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, nodes, max_iter=1, local_max_edges=0)
    ok = connected_components(chain, nodes, max_iter=20, local_max_edges=0)
    assert {r.cluster_id for r in ok.collect()} == {0}


def test_interval_bucket_join_rejects_shared_columns(spark):
    import pytest

    from kafka_map_reduce_spark.operators.rangejoin import interval_bucket_join

    l = spark.createDataFrame([(1, "k", "2024-01-01 00:00:00")], "a long, k string, ts string")
    r = spark.createDataFrame([(2, "k", "2024-01-01 00:00:30")], "a long, k string, ts string")
    with pytest.raises(ValueError, match="disjoint"):
        interval_bucket_join(l, r, ["k"], "ts", "ts", 60)


class TestKmeansIVF:
    def _fixture(self, spark):
        # 3 well-separated planted clusters in 8-d: center one-hot axes
        # 0/3/6 scaled 10, plus small deterministic per-point offsets.
        rows = []
        vid = 0
        for c, axis in enumerate((0, 3, 6)):
            for j in range(20):
                v = [0.0] * 8
                v[axis] = 10.0
                v[(axis + 1) % 8] = (j % 5) * 0.1  # jitter, stays near center
                rows.append((vid, v, c))
                vid += 1
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, planted int"
        )

    def test_kmeans_recovers_planted_clusters(self, spark):
        from kafka_map_reduce_spark.operators import similarity as S

        data = self._fixture(spark)
        cents = S.kmeans_fit(data, n_clusters=3, iters=4)
        assert cents.count() == 3
        # every point's nearest learned centroid must be shared by exactly
        # its planted cluster (bijection planted <-> learned)
        cent_row = cents.agg(
            F.collect_list(F.struct("cluster_id", "centroid")).alias("__cents")
        )
        assigned = (
            data.join(F.broadcast(cent_row))
            .withColumn("cid", F.expr(S._nearest_sql("embedding", "__cents"))["cid"])
            .groupBy("planted")
            .agg(F.countDistinct("cid").alias("n_learned"))
        )
        assert all(r.n_learned == 1 for r in assigned.collect())

    def test_ivf_kmeans_matches_brute_force_on_separated_data(self, spark):
        from kafka_map_reduce_spark.operators import similarity as S

        data = self._fixture(spark)
        probes = data.filter(F.col("vec_id").isin(0, 20, 40))
        corpus = data.filter(~F.col("vec_id").isin(0, 20, 40))
        exact = S.brute_force_topk(probes, corpus, k=5).collect()
        approx = S.ivf_kmeans_topk(
            probes, corpus, k=5, n_clusters=3, iters=4, nprobe=1
        ).collect()
        # clusters are separated -> nprobe=1 already achieves recall 1.0
        assert sorted(map(tuple, approx)) == sorted(map(tuple, exact))

    def test_ivf_kmeans_deterministic(self, spark):
        from kafka_map_reduce_spark.operators import similarity as S

        data = self._fixture(spark)
        p = data.filter(F.col("vec_id") < 3)
        c = data.filter(F.col("vec_id") >= 3)
        r1 = S.ivf_kmeans_topk(p, c, k=3, n_clusters=3, iters=2).collect()
        r2 = S.ivf_kmeans_topk(p, c, k=3, n_clusters=3, iters=2).collect()
        assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))

    def test_distributed_lloyd_equals_local_reference(self, spark, monkeypatch):
        """With the bounded-sample gate closed (_LOCAL_TRAIN_MAX_CELLS=0)
        kmeans_fit and kmeans_fit_grouped run their distributed Spark
        loops; each must return the clusters of the driver-side
        _lloyd_local reference — farthest and spread init at k=8 (JVM
        _nearest assignment), spread init at k=100 (Arrow matmul
        assignment; farthest-first there costs 99 sequential passes,
        ~80 s on 4 cores, for an init path k=8 already covers), and the
        grouped trainer with both inits at k=8 and spread init at k=100
        (each group's rows under its own model in one Arrow stage). The
        means differ from the reference only in summation order (Spark's
        avg), hence allclose rather than bitwise equality."""
        import numpy as np

        from kafka_map_reduce_spark.operators import similarity as S

        rng = np.random.default_rng(11)
        n, dim = 240, 6
        vecs = rng.normal(size=(n, dim)).tolist()
        data = spark.createDataFrame(
            [(i, v, i % 2) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>, subspace int",
        )
        hashed = data.select(
            "vec_id", "embedding", "subspace", F.xxhash64("vec_id").alias("h")
        ).collect()

        def check(got, want):
            assert [c for c, _ in got] == [c for c, _ in want]
            for (c, g), (_, w) in zip(got, want):
                assert np.allclose(g, w, rtol=0, atol=1e-9), c

        monkeypatch.setattr(S, "_LOCAL_TRAIN_MAX_CELLS", 0)
        gate = data.select(F.col("embedding").alias("__v"))
        assert S._collect_bounded_train(gate) is None, "gate still open"
        rows = [(r.vec_id, r.embedding, r.h) for r in hashed]
        for init, k in (("farthest", 8), ("spread", 8), ("spread", 100)):
            got = S.kmeans_fit(data, n_clusters=k, iters=2, init=init)
            check(
                sorted((r.cluster_id, r.centroid) for r in got.collect()),
                S._lloyd_local(rows, k, 2, init),
            )
        for init, k in (("farthest", 8), ("spread", 8), ("spread", 100)):
            got = S.kmeans_fit_grouped(
                data, n_clusters=k, iters=2, vec_col="embedding",
                id_col="vec_id", init=init,
            ).collect()
            for g in (0, 1):
                check(
                    sorted(
                        (r.cluster_id, r.centroid) for r in got
                        if r.subspace == g
                    ),
                    S._lloyd_local(
                        [x for x, r in zip(rows, hashed) if r.subspace == g],
                        k, 2, init,
                    ),
                )

    def test_train_slice_salt_seeds_every_spread_bucket(self, spark):
        """Spread init seeds bucket xxhash64(id) % k. A training slice
        cut on the same unsalted hash % mod reaches only k/gcd(mod, k)
        of those buckets; _hash_mod_filter's salted slice reaches all
        of them."""
        from kafka_map_reduce_spark.operators import similarity as S

        data = spark.createDataFrame(
            [(i, [float(i % 7), float(i % 11)]) for i in range(2000)],
            "vec_id long, embedding array<double>",
        )
        unsalted = data.filter(F.pmod(F.xxhash64("vec_id"), F.lit(2)) == 0)
        for train, seeded in ((S._hash_mod_filter(data, "vec_id", 2), 20),
                              (unsalted, 10)):
            cents = S.kmeans_fit(train, n_clusters=20, iters=0, init="spread")
            assert cents.count() == seeded


class TestMisraGries:
    def test_mg_guarantee_under_adversarial_partitioning(self, spark):
        from kafka_map_reduce_spark.operators import sketches as SK

        # 2 heavy items spread thinly across 8 partitions + noise tokens:
        # the union-of-summaries guarantee must still surface them.
        rows = []
        for p in range(8):
            rows += [(f"heavy{h}",) for h in range(2) for _ in range(30)]
            rows += [(f"noise_{p}_{i}",) for i in range(300)]
        df = spark.createDataFrame(rows, "tok string").repartition(8)
        n = len(rows)
        share = 200 / n  # heavy items have 240 > 200 occurrences
        cand = {r.tok for r in SK.mg_candidates(df, "tok", int(1 / share) + 1).collect()}
        assert {"heavy0", "heavy1"} <= cand

        hh = SK.heavy_hitters(df, "tok", min_share=share)
        exact = (
            df.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") > n * share)
        )
        assert sorted(map(tuple, hh.collect())) == sorted(map(tuple, exact.collect()))

    def test_undersized_capacity_rejected(self, spark):
        import pytest as _pytest

        from kafka_map_reduce_spark.operators import sketches as SK

        df = spark.createDataFrame([("a",)], "tok string")
        with _pytest.raises(ValueError, match="capacity"):
            SK.heavy_hitters(df, "tok", min_share=0.01, capacity=50)
        # capacity == ceil(1/min_share) is the tightest legal value
        SK.heavy_hitters(df, "tok", min_share=0.01, capacity=100).collect()

    def test_mg_merge_is_count_conservative(self):
        import pandas as pd

        from kafka_map_reduce_spark.operators.sketches import _mg_merge

        c = _mg_merge({}, pd.Series({"a": 10, "b": 2, "c": 1}), capacity=2)
        # (m+1)-th largest (1) subtracted from all, non-positives dropped
        assert c == {"a": 9, "b": 1}


def test_deletion_signature_completeness_property():
    """FastSS pigeonhole: ANY two strings within edit distance 1 share a
    deletion signature — checked in pure python against brute-force edit
    distance over random short strings (the Spark operator builds exactly
    this signature set, operators/dedup.py deletion_signatures)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def sigs(s: str) -> set:
        return {s} | {s[:i] + s[i + 1 :] for i in range(len(s))}

    def ed1(a: str, b: str) -> bool:
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) <= 1
        if la > lb:
            a, b, la, lb = b, a, lb, la
        i = 0
        while i < la and a[i] == b[i]:
            i += 1
        return a[i:] == b[i + 1 :]

    @settings(max_examples=300, deadline=None)
    @given(
        st.text(alphabet="abc", min_size=0, max_size=6),
        st.text(alphabet="abc", min_size=0, max_size=6),
    )
    def check(a, b):
        if ed1(a, b):
            assert sigs(a) & sigs(b), (a, b)

    check()


def _uf_reference(pairs, node_ids):
    """The union-find answer the operator must reproduce: one row per
    node, labeled by the minimum id reachable over every pair."""
    from kafka_map_reduce_spark.operators.dedup import _uf_min_labels

    labels = _uf_min_labels(pairs)
    return {n: labels.get(n, n) for n in node_ids}


def _seeded_graphs():
    """Three deterministic pseudo-random graphs (edges from a hash
    recurrence — varied density, no RNG): (seed, n_nodes, edge list)."""
    for seed, n_nodes, n_edges in ((1, 60, 40), (2, 80, 90), (3, 50, 25)):
        raw = [
            (
                (seed * 7919 + e * 104729) % n_nodes,
                (seed * 15485863 + e * 32452843) % n_nodes,
            )
            for e in range(n_edges)
        ]
        yield seed, n_nodes, [(a, b) for a, b in raw if a != b]


def test_star_cc_equals_label_propagation(spark):
    """The distributed large-star/small-star loop (forced past the local
    gate) must produce exactly the min-label answer — the union-find
    reference — on a mixed graph: a chain, a clique, a bridge node, and
    singletons."""
    from kafka_map_reduce_spark.operators.dedup import connected_components

    pairs = [(1, 2), (2, 3), (3, 4)]                 # chain -> cluster 1
    pairs += [(10, 11), (10, 12), (11, 12), (12, 13)]  # clique + tail -> 10
    pairs += [(20, 21), (21, 4)]                     # bridge merges into 1
    node_ids = [1, 2, 3, 4, 10, 11, 12, 13, 20, 21, 99]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    got = {
        r.id: r.cluster_id
        for r in connected_components(
            edges, nodes, local_max_edges=0
        ).collect()
    }
    assert got == _uf_reference(pairs, node_ids)
    assert got[99] == 99 and got[21] == 1 and got[13] == 10


def test_star_cc_equals_label_propagation_on_seeded_random_graphs(spark):
    """The distributed loop equals the union-find reference on the three
    seeded pseudo-random graphs."""
    from kafka_map_reduce_spark.operators.dedup import connected_components

    for seed, n_nodes, raw in _seeded_graphs():
        edges = spark.createDataFrame(raw, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
        got = {
            r.id: r.cluster_id
            for r in connected_components(
                edges, nodes, local_max_edges=0
            ).collect()
        }
        assert got == _uf_reference(raw, range(n_nodes)), f"seed {seed}"


def test_cc_local_twin_equals_distributed_loops(spark):
    """The r17 driver-local union-find gate must return exactly what the
    distributed loop (forced via local_max_edges=0) returns, on the
    seeded pseudo-random graphs."""
    from kafka_map_reduce_spark.operators.dedup import connected_components

    for seed, n_nodes, raw in _seeded_graphs():
        edges = spark.createDataFrame(raw, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
        stats_l: dict = {}
        local = {
            r.id: r.cluster_id
            for r in connected_components(edges, nodes, stats=stats_l).collect()
        }
        stats_d: dict = {}
        dist = {
            r.id: r.cluster_id
            for r in connected_components(
                edges, nodes, stats=stats_d, local_max_edges=0
            ).collect()
        }
        assert stats_l["rounds"] == 0, "gate did not take the local path"
        assert stats_d["rounds"] > 0, "local_max_edges=0 did not force the loop"
        assert local == dist, f"seed {seed}: local != distributed"


def test_cc_over_gate_single_evaluation(spark):
    """r18 (r17 verdict item #1): the local-twin gate probe must not
    double-pay the pair pipeline. The probe's LIMIT-bounded collect
    truncates result rows, not upstream work, so an over-gate graph
    used to execute the candidate pipeline once for the probe and then
    again in the distributed loop. With the entry barrier the pipeline
    is evaluated EXACTLY once — witnessed by an accumulator-ticking UDF
    on the pair stream."""
    from kafka_map_reduce_spark.operators.dedup import connected_components

    n = 40  # path graph 0-1-...-40: one component, over the probe gate
    base = spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in range(n + 1)], "id long")
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        acc.add(1)
        return x

    pairs = base.select(tick("a").alias("id_a"), F.col("b").alias("id_b"))
    got = {
        r.id: r.cluster_id
        for r in connected_components(
            pairs, nodes, max_iter=60, local_max_edges=5
        ).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}
    assert acc.value == n, (
        f"pair pipeline evaluated {acc.value / n:.1f}x (expected once) on "
        f"an over-gate graph"
    )


def test_cc_local_twin_matches_distributed_on_missing_relay_node(spark):
    """Contract corner pinned: a component spans every pair endpoint, so
    an a-b, b-c path with b missing from ``nodes`` still merges a and c;
    the output holds one row per ``nodes`` id (b gets none). The local
    union-find and the distributed loop must agree on this."""
    from kafka_map_reduce_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 5), (5, 3)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (3,)], "id long")  # 5 missing
    for lme in (100_000, 0):
        got = {
            r.id: r.cluster_id
            for r in connected_components(
                edges, nodes, local_max_edges=lme
            ).collect()
        }
        assert got == {1: 1, 3: 1}, f"local_max_edges={lme}"


def test_star_cc_converges_on_long_chain_where_label_propagation_cannot(spark):
    """The scale claim itself: a 300-node chain has diameter 300, so
    min-label propagation would need ~300 rounds, while star contraction
    converges in ~log rounds and labels the whole chain with its
    minimum."""
    from kafka_map_reduce_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(301)], "id long")
    # forced past the driver-local gate: the claim under test is the
    # DISTRIBUTED loop's convergence behavior
    stats: dict = {}
    got = connected_components(
        chain, nodes, max_iter=20, stats=stats, local_max_edges=0
    ).collect()
    assert {r.cluster_id for r in got} == {0} and len(got) == 301
    # O(log n): 10 rounds measured, against a diameter of 300
    assert 0 < stats["rounds"] <= 2 * (300).bit_length()


class TestIncrementalDedup:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _corpus(self, spark):
        return self._docs(
            spark,
            [
                (i, f"corpus document {i} about subject{i} containing words "
                    f"c{i * 3} c{i * 5} c{i * 7} c{i * 11} in original phrasing")
                for i in range(40)
            ],
        )

    def test_cross_batch_pairs_equal_self_dedup_cross_subset(self, spark):
        """Probing the index must find EXACTLY the cross-batch pairs that
        a full self-dedup over the union would find (banding is per-doc
        deterministic, so the index probe loses nothing)."""
        from kafka_map_reduce_spark.operators import dedup as D

        corpus = self._corpus(spark)
        new = self._docs(
            spark,
            # near-dups of corpus docs 3 and 7 (one word changed) + novel
            [
                (103, "corpus document 3 about subject3 containing words "
                      "c9 c15 c21 c33 in altered phrasing"),
                (107, "corpus document 7 about subject7 containing words "
                      "c21 c35 c49 c77 in altered phrasing"),
                (150, "entirely novel content with its own vocabulary "
                      "n1 n2 n3 n4 n5 n6 n7 n8 n9"),
            ],
        )
        sigs_c = D.minhash_signatures(D.word_shingles(corpus, "text", "doc_id"))
        index = D.lsh_banded(sigs_c)
        pairs, novel, banded_new = D.incremental_near_dedup(
            new, corpus, index, "text", "doc_id", min_jaccard=0.5
        )
        got_cross = {
            (r.id_a, r.id_b) for r in pairs.collect() if r.id_b < 100
        }

        union = corpus.unionByName(new)
        sh = D.word_shingles(union, "text", "doc_id")
        full = D.jaccard_verify(
            D.lsh_candidates(D.minhash_signatures(sh)), sh, 0.5
        )
        want_cross = {
            (max(r.id_a, r.id_b), min(r.id_a, r.id_b))
            for r in full.collect()
            if (r.id_a >= 100) != (r.id_b >= 100)
        }
        assert got_cross == want_cross and len(got_cross) == 2
        assert {r.id for r in novel.collect()} == {150}

    def test_two_step_ingest_detects_dups_of_earlier_batch(self, spark):
        """Appending batch-1's novel banded rows to the index makes a
        batch-2 near-dup of a batch-1 doc detectable — the maintenance
        loop actually composes."""
        from kafka_map_reduce_spark.operators import dedup as D

        corpus = self._corpus(spark)
        sigs_c = D.minhash_signatures(D.word_shingles(corpus, "text", "doc_id"))
        index = D.lsh_banded(sigs_c)

        b1 = self._docs(
            spark,
            [(200, "batch one fresh material with distinctive tokens "
                   "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")],
        )
        p1, novel1, banded1 = D.incremental_near_dedup(
            b1, corpus, index, "text", "doc_id", min_jaccard=0.5
        )
        assert {r.id for r in novel1.collect()} == {200}
        index2 = index.unionByName(
            banded1.join(novel1, banded1["id"] == novel1["id"], "left_semi")
        )
        corpus2 = corpus.unionByName(b1)

        b2 = self._docs(
            spark,
            [(300, "batch one fresh material with distinctive tokens "
                   "t1 t2 t3 t4 t5 t6 t7 t8 t11")],  # near-dup of 200
        )
        p2, novel2, _ = D.incremental_near_dedup(
            b2, corpus2, index2, "text", "doc_id", min_jaccard=0.5
        )
        assert {(r.id_a, r.id_b) for r in p2.collect()} == {(300, 200)}
        assert novel2.count() == 0

    def test_overlapping_id_spaces_rejected(self, spark):
        import pytest as _pytest

        from kafka_map_reduce_spark.operators import dedup as D

        docs = self._docs(spark, [(1, "same id on both sides of the join")])
        banded = D.lsh_banded(
            D.minhash_signatures(D.word_shingles(docs, "text", "doc_id"))
        )
        with _pytest.raises(Exception, match="disjoint"):
            D.lsh_candidates_against(banded, banded).count()

    def test_incremental_overlapping_ids_rejected(self, spark):
        """incremental_near_dedup's driver-side guard: a batch id that is
        also a corpus id raises before any output is built, even when the
        two docs share no bucket (so the in-plan guard cannot fire)."""
        import pytest as _pytest

        from kafka_map_reduce_spark.operators import dedup as D

        corpus = self._corpus(spark)
        index = D.lsh_banded(
            D.minhash_signatures(D.word_shingles(corpus, "text", "doc_id"))
        )
        new = self._docs(
            spark,
            [(3, "entirely novel content with its own vocabulary "
                 "n1 n2 n3 n4 n5 n6 n7 n8 n9")],
        )
        with _pytest.raises(ValueError, match="disjoint"):
            D.incremental_near_dedup(
                new, corpus, index, "text", "doc_id", min_jaccard=0.5
            )


def test_exact_dedup_against_index(spark):
    """Incremental exact dedup: cross-index dups, within-batch dups
    collapsing to the batch canonical, and novel digests to append."""
    from kafka_map_reduce_spark.operators.dedup import (
        content_digests,
        exact_dedup_against,
    )

    corpus = spark.createDataFrame(
        [(1, "Alpha Text"), (2, "beta text")], "doc_id long, text string"
    )
    index = content_digests(corpus, "text", "doc_id")
    batch = spark.createDataFrame(
        [
            (10, "  ALPHA TEXT "),   # cross dup of 1 (normalization)
            (11, "gamma fresh"),     # novel, duplicated within batch by 12
            (12, "GAMMA FRESH"),     # within-batch dup of 11
            (13, "delta unique"),    # novel
        ],
        "doc_id long, text string",
    )
    novel, dups = exact_dedup_against(batch, index, "text", "doc_id")
    assert {r.id for r in novel.collect()} == {11, 13}
    assert {(r.id, r.matches_id) for r in dups.collect()} == {(10, 1), (12, 11)}


def test_ivf_kmeans_accepts_pretrained_centroids(spark):
    """Passing a persisted kmeans_fit result must give exactly the same
    neighbors as in-call training (same deterministic quantizer)."""
    from kafka_map_reduce_spark.operators import similarity as S

    rows = []
    for c, axis in enumerate((0, 3, 6)):
        for j in range(15):
            v = [0.0] * 8
            v[axis] = 10.0
            v[(axis + 1) % 8] = (j % 5) * 0.1
            rows.append((c * 15 + j, v))
    data = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes, corpus = data.filter("vec_id < 3"), data.filter("vec_id >= 3")

    cents = S.kmeans_fit(corpus, n_clusters=3, iters=3)
    inline = {
        (r.probe_id, r.rank): r.neighbor_id
        for r in S.ivf_kmeans_topk(probes, corpus, k=5, n_clusters=3, iters=3).collect()
    }
    pretrained = {
        (r.probe_id, r.rank): r.neighbor_id
        for r in S.ivf_kmeans_topk(probes, corpus, k=5, centroids=cents).collect()
    }
    assert inline == pretrained and len(inline) == 15


def test_stream_dedup_ingest_detects_across_microbatches(spark):
    """The streaming ingest composition: planted near-dups of the initial
    corpus are found in micro-batch 1, and micro-batch 2's planted
    near-dups of BATCH-1 docs are found too — possible only if the
    foreachBatch index append actually landed between triggers."""
    from kafka_map_reduce_spark.registry import all_queries

    rows = (
        all_queries()["q_stream_dedup_ingest"].fn(spark, SF_CORRECT).collect()
    )
    pair_ids = {(r.id_a, r.id_b) for r in rows}
    # every +200000 doc (near-dup of corpus doc d = id - 200000) pairs
    # with its original
    planted_corpus = {(d + 200000, d) for d in range(0, 400, 20)}
    assert planted_corpus <= pair_ids
    # at least one +300000 doc pairs with a batch-1 (+100000) doc: the
    # cross-micro-batch detection (a +300000 doc may legitimately pair
    # with the corpus instead when its base doc was itself a near-dup)
    cross_batch = {
        p for p in pair_ids
        if max(p) >= 300000 and 100000 <= min(p) < 200000
    }
    assert len(cross_batch) >= 3
    # every planted +300000 doc is detected as a dup of SOMETHING
    flagged = {i for p in pair_ids for i in p if i >= 300000}
    assert flagged == {d + 300000 for d in range(400, 450, 10)}


def test_ingest_micro_batch_retry_is_idempotent(spark, tmp_path):
    """At-least-once redelivery: a retried micro-batch whose failed
    attempt already committed its batch=<id> partitions (the worst case —
    every output landed, only the checkpoint commit was lost) must
    (a) not wedge on incremental_near_dedup's id-disjointness guard and
    (b) converge to exactly the same pairs/index/corpus state as the
    first attempt."""
    import os

    from kafka_map_reduce_spark.operators import dedup as D
    from kafka_map_reduce_spark.queries.streaming_live import (
        ingest_micro_batch,
    )

    corpus0 = spark.createDataFrame(
        [
            (i, f"corpus document {i} about subject{i} containing words "
                f"c{i * 3} c{i * 5} c{i * 7} c{i * 11} in original phrasing")
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "index")
    pairs_path = str(tmp_path / "pairs")
    corpus0.write.mode("overwrite").parquet(
        os.path.join(corpus_path, "batch=init")
    )
    D.lsh_banded(
        D.minhash_signatures(D.word_shingles(corpus0, "text", "doc_id"))
    ).write.mode("overwrite").parquet(os.path.join(index_path, "batch=init"))

    batch = spark.createDataFrame(
        [
            (103, "corpus document 3 about subject3 containing words "
                  "c9 c15 c21 c33 in altered phrasing"),  # near-dup of 3
            (150, "entirely novel content with its own vocabulary "
                  "n1 n2 n3 n4 n5 n6 n7 n8 n9"),
        ],
        "doc_id long, text string",
    )

    def snap(path):
        df = spark.read.parquet(path)
        return sorted(tuple(r) for r in df.collect())

    ingest_micro_batch(batch, 0, corpus_path, index_path, pairs_path)
    first = (snap(pairs_path), snap(index_path), snap(corpus_path))
    assert {(r.id_a, r.id_b) for r in spark.read.parquet(pairs_path).collect()} == {(103, 3)}

    # redelivery of the SAME batch id against tables already containing
    # its output — before the retry filter this wedged on the overlap
    # guard; now it must be a clean overwrite converging to the same state
    ingest_micro_batch(batch, 0, corpus_path, index_path, pairs_path)
    assert (snap(pairs_path), snap(index_path), snap(corpus_path)) == first


def test_lsh_index_compaction_preserves_probe_results(spark, tmp_path):
    """The persisted band index accumulates one small file per ingest
    batch; periodic compaction (operators/maintenance.py) must leave
    probe results bit-identical — the two subsystems compose."""
    from kafka_map_reduce_spark.operators import dedup as D
    from kafka_map_reduce_spark.operators import maintenance as M

    idx_path = str(tmp_path / "band_index")
    # three ingest batches appended as separate small files
    for b in range(3):
        docs = spark.createDataFrame(
            [
                (b * 100 + i,
                 f"batch {b} doc {i} words w{b}_{i * 3} w{b}_{i * 5} "
                 f"w{b}_{i * 7} shared common tail phrase")
                for i in range(20)
            ],
            "doc_id long, text string",
        )
        D.lsh_banded(
            D.minhash_signatures(D.word_shingles(docs, "text", "doc_id"))
        ).coalesce(1).write.mode("append").parquet(idx_path)
    n_before = M.parquet_file_stats(spark, idx_path)["n_files"]
    assert n_before >= 3

    probe_docs = spark.createDataFrame(
        [(9000, "batch 1 doc 7 words w1_21 w1_35 w1_49 shared common tail phrase")],
        "doc_id long, text string",
    )
    banded_probe = D.lsh_banded(
        D.minhash_signatures(D.word_shingles(probe_docs, "text", "doc_id"))
    )

    def probe():
        return {
            (r.id_a, r.id_b)
            for r in D.lsh_candidates_against(
                banded_probe, spark.read.parquet(idx_path)
            ).collect()
        }

    before = probe()
    assert (9000, 107) in before  # the planted twin is found pre-compaction
    M.compact_parquet(spark, idx_path, target_file_bytes=1 << 30)
    assert M.parquet_file_stats(spark, idx_path)["n_files"] < n_before
    assert probe() == before


class TestUnigramLogprob:
    """Perplexity-style quality scorer (operators/text.py unigram_logprob)."""

    def _docs(self, spark):
        rows = [
            (0, "the cat sat on the mat"),
            (1, "the dog sat on the rug"),
            (2, "zq xv qqj wybf zzzz kkkkq"),  # gibberish: all rare tokens
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_matches_hand_computed_model(self, spark):
        from kafka_map_reduce_spark.operators.text import unigram_logprob

        import math

        docs = self._docs(spark)
        got = {r.doc_id: r for r in unigram_logprob(docs).collect()}
        # hand-built unigram model over all 18 tokens
        toks = [t for _, s in [(0, "the cat sat on the mat"),
                               (1, "the dog sat on the rug"),
                               (2, "zq xv qqj wybf zzzz kkkkq")]
                for t in s.split()]
        total = len(toks)
        cnt = {}
        for t in toks:
            cnt[t] = cnt.get(t, 0) + 1
        for doc_id, s in [(0, "the cat sat on the mat"),
                          (1, "the dog sat on the rug"),
                          (2, "zq xv qqj wybf zzzz kkkkq")]:
            lps = [math.log(cnt[t] / total) for t in s.split()]
            assert got[doc_id].n_tokens == len(s.split())
            assert got[doc_id].mean_logprob == pytest.approx(
                sum(lps) / len(lps), rel=1e-9
            )

    def test_gibberish_scores_lowest(self, spark):
        from kafka_map_reduce_spark.operators.text import unigram_logprob

        got = {r.doc_id: r.mean_logprob for r in
               unigram_logprob(self._docs(spark)).collect()}
        assert got[2] < got[0] and got[2] < got[1]

    def test_fixed_lm_scores_oov_with_pseudo_count(self, spark):
        from kafka_map_reduce_spark.operators.text import unigram_logprob

        import math

        docs = self._docs(spark)
        lm = spark.createDataFrame(
            [("the", 10), ("cat", 5), ("sat", 5), ("on", 10), ("mat", 5),
             ("dog", 5), ("rug", 5)],
            "tok string, cnt long",
        )
        got = {r.doc_id: r for r in
               unigram_logprob(docs, lm_counts=lm, oov_pseudo_count=0.5).collect()}
        # doc 2 is 100% OOV under the fixed LM: every token scores
        # log(0.5/45)
        assert got[2].mean_logprob == pytest.approx(math.log(0.5 / 45), rel=1e-9)
        # doc 0 fully in-vocab: hand-check first token
        lps = [math.log(c / 45) for c in (10, 5, 5, 10, 10, 5)]
        assert got[0].mean_logprob == pytest.approx(sum(lps) / 6, rel=1e-9)


class TestRepeatedSpans:
    """Substring-level exact dedup (operators/dedup.py repeated_spans)."""

    def _docs(self, spark):
        # distinct filler derived from (doc, position); a 60-token license
        # block planted verbatim into docs 0 and 1 at DIFFERENT offsets
        license_block = " ".join(f"lic{i}" for i in range(60))
        rows = [
            (0, " ".join(f"a{i}" for i in range(20)) + " " + license_block
                + " " + " ".join(f"b{i}" for i in range(20))),
            (1, " ".join(f"c{i}" for i in range(35)) + " " + license_block),
            (2, " ".join(f"d{i}" for i in range(120))),  # no repeats
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_planted_span_found_in_both_docs_no_false_positives(self, spark):
        from kafka_map_reduce_spark.operators.dedup import repeated_spans

        got = repeated_spans(
            self._docs(spark), "text", "doc_id", span_tokens=50, stride=1
        ).collect()
        by_doc = {}
        for r in got:
            by_doc.setdefault(r.id, []).append(r)
        assert 2 not in by_doc  # doc 2 is clean
        assert set(by_doc) == {0, 1}
        # a 60-token repeat contains 11 alignments of a 50-token window;
        # every one must be caught in both docs (the paper's exactness)
        assert len(by_doc[0]) == 11 and len(by_doc[1]) == 11
        # positions: doc 0 plants at token 20, doc 1 at token 35
        assert sorted(r.start_tok for r in by_doc[0]) == list(range(20, 31))
        assert sorted(r.start_tok for r in by_doc[1]) == list(range(35, 46))
        # the same window content hashes identically across docs
        h0 = {r.start_tok - 20: r.span_hash for r in by_doc[0]}
        h1 = {r.start_tok - 35: r.span_hash for r in by_doc[1]}
        assert h0 == h1
        assert all(r.n_docs == 2 for r in got)

    def test_short_docs_are_skipped(self, spark):
        from kafka_map_reduce_spark.operators.dedup import repeated_spans

        docs = spark.createDataFrame(
            [(0, "x y z"), (1, "x y z")], "doc_id long, text string"
        )
        assert repeated_spans(docs, "text", "doc_id", span_tokens=50).count() == 0

    def test_within_doc_repeat_not_reported_as_cross_doc(self, spark):
        from kafka_map_reduce_spark.operators.dedup import repeated_spans

        # one doc repeating its own 50-token block: count_distinct(id)=1,
        # so nothing is cross-document
        block = " ".join(f"r{i}" for i in range(50))
        docs = spark.createDataFrame(
            [(0, block + " mid0 mid1 mid2 " + block)], "doc_id long, text string"
        )
        assert repeated_spans(docs, "text", "doc_id", span_tokens=50).count() == 0


class TestIncrementalLineIndex:
    """Incremental line-level boilerplate index (operators/dedup.py
    line_hashes / append_line_counts / boilerplate_against /
    compact_line_index): LSM-style count deltas, parity vs full
    recompute, compaction invariance."""

    def _corpus(self, spark):
        # 30 docs of 60 tokens; docs 0-9 share a common 20-token footer
        # (tokens f0..f19) in their last line
        rows = []
        for d in range(30):
            body = " ".join(f"d{d}w{i}" for i in range(40))
            tail = (
                " ".join(f"f{i}" for i in range(20))
                if d < 10
                else " ".join(f"t{d}x{i}" for i in range(20))
            )
            rows.append((d, body + " " + tail))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _full_scores(self, spark, docs):
        from kafka_map_reduce_spark.operators.dedup import line_hashes

        lines = line_hashes(docs, "text", "doc_id")
        cnt = lines.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
        dup = F.when(F.col("occ") > 1, F.lit(1)).otherwise(F.lit(0))
        return {
            r.doc_id: (r.n_lines, r.n_dup)
            for r in lines.join(cnt, "h")
            .groupBy(F.col("id").alias("doc_id"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_lines"),
                F.sum(dup).cast("long").alias("n_dup"),
            )
            .collect()
        }

    def test_batched_ingest_matches_full_recompute(self, spark, tmp_path):
        from kafka_map_reduce_spark.operators import dedup as D

        docs = self._corpus(spark)
        idx = str(tmp_path / "line_index")
        # ingest in 3 batches of 10
        for b in range(3):
            batch = docs.filter(
                (F.col("doc_id") >= b * 10) & (F.col("doc_id") < (b + 1) * 10)
            )
            D.append_line_counts(
                D.line_hashes(batch, "text", "doc_id"), idx, batch_id=b
            )
        # score EVERY doc against the fully-ingested index
        got = {
            r.doc_id: (r.n_lines, r.n_dup_lines)
            for r in D.boilerplate_against(
                D.line_hashes(docs, "text", "doc_id"), spark, idx
            ).collect()
        }
        assert got == self._full_scores(spark, docs)
        # the footer docs are the dup-flagged ones
        assert all(got[d][1] >= 1 for d in range(10))
        assert all(got[d][1] == 0 for d in range(10, 30))

    def test_compaction_preserves_scores_and_folds_deltas(self, spark, tmp_path):
        import os

        from kafka_map_reduce_spark.operators import dedup as D

        docs = self._corpus(spark)
        idx = str(tmp_path / "line_index")
        for b in range(3):
            batch = docs.filter(
                (F.col("doc_id") >= b * 10) & (F.col("doc_id") < (b + 1) * 10)
            )
            D.append_line_counts(
                D.line_hashes(batch, "text", "doc_id"), idx, batch_id=b
            )
        lines = D.line_hashes(docs, "text", "doc_id")
        before = {
            r.doc_id: (r.n_lines, r.n_dup_lines)
            for r in D.boilerplate_against(lines, spark, idx).collect()
        }
        D.compact_line_index(spark, idx)
        after = {
            r.doc_id: (r.n_lines, r.n_dup_lines)
            for r in D.boilerplate_against(lines, spark, idx).collect()
        }
        assert after == before
        assert os.listdir(idx) == ["batch=compacted"]


def test_stream_line_index_ingest_matches_full_recompute(spark, tmp_path):
    """The incremental line index composed as a LIVE stream: a 3-file
    replay ingests one micro-batch per trigger via foreachBatch ->
    append_line_counts; after the drain, scoring the whole corpus
    against the streamed index equals the one-shot full recompute —
    the same contract the LSH streaming ingest pins, at line
    granularity."""
    import os

    from kafka_map_reduce_spark.operators import dedup as D
    from kafka_map_reduce_spark.streaming.pipeline import drain_query

    # corpus with a shared 20-token footer in docs 0-9, split into 3
    # stream source files
    rows = []
    for d in range(30):
        body = " ".join(f"d{d}w{i}" for i in range(40))
        tail = (
            " ".join(f"f{i}" for i in range(20))
            if d < 10
            else " ".join(f"t{d}x{i}" for i in range(20))
        )
        rows.append((d, body + " " + tail))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    os.makedirs(src)
    for b in range(3):
        docs.filter(
            (F.col("doc_id") >= b * 10) & (F.col("doc_id") < (b + 1) * 10)
        ).coalesce(1).write.parquet(os.path.join(src, f"part{b}"))
    # flatten each part dir's data file into src as one file per batch
    import glob
    import shutil

    for b in range(3):
        (f,) = glob.glob(os.path.join(src, f"part{b}", "part-*.parquet"))
        shutil.move(f, os.path.join(src, f"batch{b}.parquet"))
        shutil.rmtree(os.path.join(src, f"part{b}"))

    idx = str(tmp_path / "line_index")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def ingest(batch_df, batch_id):
        D.append_line_counts(
            D.line_hashes(batch_df, "text", "doc_id"), idx, batch_id=batch_id
        )

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain_query(q, 300)
    # one delta per micro-batch landed
    assert len([d for d in os.listdir(idx) if d.startswith("batch=")]) == 3

    lines = D.line_hashes(docs, "text", "doc_id")
    got = {
        r.doc_id: (r.n_lines, r.n_dup_lines)
        for r in D.boilerplate_against(lines, spark, idx).collect()
    }
    cnt = lines.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    dup = F.when(F.col("occ") > 1, F.lit(1)).otherwise(F.lit(0))
    full = {
        r.doc_id: (r.n_lines, r.n_dup)
        for r in lines.join(cnt, "h")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(dup).cast("long").alias("n_dup"),
        )
        .collect()
    }
    assert got == full


def test_hash_embed_contract(spark):
    """Feature-hashing embeddings: unit-norm for non-empty docs, zero
    vector for empty text, identical docs -> identical vectors, and a
    shared-vocabulary pair scores a higher cosine than a disjoint one
    (the property the downstream embedding-dedup/ANN queries rely on)."""
    import math

    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators.similarity import cosine
    from kafka_map_reduce_spark.operators.text import attach_hash_embed

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (2, "the quick brown fox leaps over the lazy dog"),  # near dup
        (3, "alpha beta gamma delta epsilon zeta eta theta"),  # disjoint
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = attach_hash_embed(df, "text", "e", dim=32)
    vecs = {r.id: list(r.e) for r in out.collect()}
    assert all(len(v) == 32 for v in vecs.values())
    for i in (0, 1, 2, 3):
        assert math.isclose(
            sum(x * x for x in vecs[i]), 1.0, abs_tol=1e-9
        ), f"doc {i} not unit-norm"
    assert vecs[4] == [0.0] * 32
    assert vecs[0] == vecs[1], "identical docs must embed identically"
    sims = {
        pair: spark.createDataFrame(
            [(vecs[pair[0]], vecs[pair[1]])], "a array<double>, b array<double>"
        )
        .select(cosine(F.col("a"), F.col("b")).alias("s"))
        .collect()[0]
        .s
        for pair in [(0, 2), (0, 3)]
    }
    assert sims[(0, 2)] > sims[(0, 3)] + 0.3, (
        f"near-dup must outscore disjoint: {sims}"
    )
    assert sims[(0, 2)] > 0.8, f"near-dup cosine too low: {sims}"


def test_remove_contaminated_spans_exact_surgery(spark):
    """Every token covered by an eval-matching 3-gram is cut, nothing
    else: planted contamination in mid-document removes exactly the
    quoted span; clean and too-short docs pass through untouched."""
    from kafka_map_reduce_spark.operators.text import (
        remove_contaminated_spans,
    )

    eval_docs = spark.createDataFrame(
        [(0, "the secret eval answer is forty two")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "alpha beta the secret eval answer is forty two gamma delta"),
            (2, "totally unrelated clean text with many plain tokens"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in remove_contaminated_spans(train, eval_docs).collect()
    }
    assert got[1].n_tokens == 11 and got[1].n_removed == 7
    assert got[1].cleaned_text == "alpha beta gamma delta"
    assert got[2].n_removed == 0
    assert got[2].cleaned_text == "totally unrelated clean text with many plain tokens"
    assert got[3].n_removed == 0 and got[3].cleaned_text == "too short"


def test_remove_contaminated_spans_matches_python_reference(spark):
    """Randomized (seeded, no RNG at test time beyond the fixed seed)
    cross-check: the Spark surgery must equal a direct Python
    implementation of 'cut every token covered by an eval-matching
    3-gram' over 200 random docs with planted phrase overlaps."""
    import random

    from kafka_map_reduce_spark.operators.text import (
        remove_contaminated_spans,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    phrases = [
        ["alpha", "beta", "gamma", "delta"],
        ["one", "two", "three"],
        ["red", "green", "blue", "cyan", "magenta"],
    ]
    eval_rows = [(1000 + i, " ".join(p)) for i, p in enumerate(phrases)]
    docs = []
    for i in range(200):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        if rng.random() < 0.5:  # plant a phrase mid-document
            p = rng.choice(phrases)
            pos = rng.randint(0, len(toks))
            toks = toks[:pos] + p + toks[pos:]
        docs.append((i, " ".join(toks)))

    def py_surgery(text: str, eval_texts: list) -> tuple:
        ev = set()
        for et in eval_texts:
            a = et.split(" ")
            for j in range(len(a) - 2):
                ev.add(" ".join(a[j : j + 3]))
        a = text.split(" ")
        removed = set()
        for j in range(len(a) - 2):
            if " ".join(a[j : j + 3]) in ev:
                removed.update((j, j + 1, j + 2))
        kept = [t for j, t in enumerate(a) if j not in removed]
        return len(a), len(a) - len(kept), " ".join(kept)

    eval_texts = [t for _, t in eval_rows]
    want = {i: py_surgery(t, eval_texts) for i, t in docs}
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in remove_contaminated_spans(
            spark.createDataFrame(docs, "doc_id long, text string"),
            spark.createDataFrame(eval_rows, "doc_id long, text string"),
        ).collect()
    }
    assert got == want


def test_compression_ratio_orders_junk_prose_noise(spark):
    """The zlib signal must separate the three regimes: repeated
    boilerplate << natural prose << incompressible noise, with exact
    byte accounting (n_compressed == len(zlib.compress(utf8, 6)))."""
    import zlib

    from kafka_map_reduce_spark.operators.text import compression_ratio

    boiler = "subscribe now click here " * 40
    prose = (
        "the river bent east past the mill and the children counted "
        "herons from the old stone bridge while their father mended "
        "nets below in the shade of the willow trees near the landing "
    ) * 5
    # high-entropy deterministic stream via md5 bytes mapped onto 90
    # printable symbols (~6.5 bits/char): nothing for deflate to exploit
    # (hex would hand Huffman a 16-symbol alphabet and compress BELOW
    # prose; naive modular sequences are periodic and compress too)
    import hashlib

    raw = b"".join(
        hashlib.md5(f"noise:{i}".encode()).digest() for i in range(64)
    )
    noise = "".join(chr(33 + c % 90) for c in raw)
    df = spark.createDataFrame(
        [(1, boiler), (2, prose), (3, noise), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.z
        for r in df.select(
            "doc_id", compression_ratio("text").alias("z")
        ).collect()
    }
    assert got[1].ratio < got[2].ratio < got[3].ratio
    for i, t in ((1, boiler), (2, prose), (3, noise)):
        assert got[i].n_compressed == len(zlib.compress(t.encode(), 6))
        assert got[i].n_bytes == len(t.encode())
    assert got[4].ratio is None  # null text -> null signal, not a crash


def test_hash_embed_arrow_face_bit_parity(spark):
    """attach_hash_embed_arrow must equal attach_hash_embed
    BIT-FOR-BIT (r10, the embed-wall production face — r9 verdict item
    #6): same tokenizer, same md5 nibbles, integer ±1 sums (exactly
    representable, so summation order is immaterial), same IEEE
    norm/divide. Checked on the real documents table at sf0.001 plus
    null/empty/whitespace edge rows."""
    from kafka_map_reduce_spark.operators.text import (
        attach_hash_embed,
        attach_hash_embed_arrow,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [(10_000_001, None), (10_000_002, ""), (10_000_003, "  \t \n ")],
        "doc_id long, text string",
    )
    d = docs.unionByName(edge)
    jvm = attach_hash_embed(d, "text", "embedding", dim=32)
    arrow = attach_hash_embed_arrow(d, "text", "embedding", dim=32)
    j = {r.doc_id: r.embedding for r in jvm.collect()}
    a = {r.doc_id: r.embedding for r in arrow.collect()}
    assert set(j) == set(a)
    diff = [k for k in j if j[k] != a[k]]
    assert not diff, f"faces differ on {len(diff)} docs, e.g. {diff[:3]}"


def _vector_stage(spark, monkeypatch, return_type):
    """(helper-built Arrow stage, a batch whose second row is null) for
    one return type in use."""
    import numpy as np
    import pandas as pd

    import kafka_map_reduce_spark.operators.similarity as S
    from kafka_map_reduce_spark.operators.text import attach_hash_embed_arrow

    vec = pd.Series([np.array([1.0, 2.0]), None], dtype=object)
    if return_type == "int":
        cents = [{"cluster_id": 0, "centroid": [0.0, 0.0]},
                 {"cluster_id": 1, "centroid": [1.0, 2.0]}]
        return S._assign_arrow(cents), (vec,)
    if return_type == "double":
        return S.cosine_pairs_arrow(), (vec, vec)
    if return_type == "array<long>":
        return S.hyperplane_buckets_all(2, 4, 2), (vec,)
    if return_type == "array<double>":
        return S._normalize_arrow(), (vec,)
    # the embed struct: capture the stage the embed face builds
    built = []
    real = S._vector_udf
    monkeypatch.setattr(
        S, "_vector_udf", lambda *a: built.append(real(*a)) or built[-1]
    )
    attach_hash_embed_arrow(
        spark.createDataFrame([("a",)], "text string"), "text",
        dim=8, buckets_col="b", bits=4, n_tables=2, unit_col="u",
    )
    (udf,) = built
    return udf, (pd.Series(["alpha beta", None], dtype=object),)


@pytest.mark.parametrize(
    "return_type", ["int", "double", "array<long>", "array<double>", "embed"]
)
def test_vector_udf_contract(spark, monkeypatch, return_type):
    """Every Arrow vector stage comes from one helper
    (similarity._vector_udf): its body answers a zero-row batch with
    the typed empty result of its return type, and a null input row
    with a null output row (every struct field null) without reaching
    the kernel. Only the cosine verify is flagged nondeterministic (so
    the optimizer cannot clone it); the flag would block filter pushdown
    below the other stages."""
    udf, batch = _vector_stage(spark, monkeypatch, return_type)
    assert udf.deterministic == (return_type != "double")
    empty = udf.func(*[c.iloc[:0] for c in batch])
    got = udf.func(*batch)
    if return_type == "embed":
        assert list(empty.columns) == ["emb", "bkts", "unit"]
        assert len(empty) == 0 and list(empty.dtypes) == [object] * 3
        assert got.iloc[1].isna().all() and got.iloc[0].notna().all()
        assert len(got.iloc[0]["bkts"]) == 2
    else:
        dtype = {"int": "int32", "double": "float64"}.get(return_type, object)
        assert len(empty) == 0 and empty.dtype == dtype
        assert got.isna().tolist() == [False, True]


def test_schema_memo_keeps_one_entry_per_table(spark, tmp_path, monkeypatch):
    """load_table's schema memo is keyed by path: a newer table mtime
    replaces the table's entry instead of adding a second one."""
    import os

    from kafka_map_reduce_spark.sources import tables as T

    monkeypatch.setattr(T, "_SCHEMA_MEMO", {})
    path = os.path.join(str(tmp_path), "t.parquet")
    spark.range(3).write.parquet(path)
    assert T.load_table(spark, str(tmp_path), "t").count() == 3
    st = os.stat(path)
    os.utime(path, (st.st_atime + 10, st.st_mtime + 10))
    assert T.load_table(spark, str(tmp_path), "t").count() == 3
    assert list(T._SCHEMA_MEMO) == [path]
    assert T._SCHEMA_MEMO[path][0] == os.path.getmtime(path)


def test_fan_out_scan_keyed_path(spark, monkeypatch):
    """fan_out_scan repartitions by the deterministic
    xxhash64('fan-out', key), not round-robin — no
    sort-before-repartition on the serial scan task (SPARK-23207), and
    retried tasks reproduce the same assignment by construction. Pins:
    (a) the gates: no-op below the bytes floor and on an
    already-parallel input; (b) the engaged plan carries
    hashpartitioning on the marker hash, NOT round-robin; (c) the
    MinHash pipeline output is identical to the un-fanned run
    (signatures are per-row xxhash64, partition-invariant by
    construction); (d) a non-file source passes the partition gate and
    reaches the inputFiles fallback, which leaves it untouched."""
    from kafka_map_reduce_spark.operators import dedup as D
    from kafka_map_reduce_spark.sources import tables as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert T.fan_out_scan(docs, key=("doc_id",)) is docs  # bytes floor

    monkeypatch.setattr(T, "FAN_OUT_MIN_BYTES", 0)
    slots = spark.sparkContext.defaultParallelism
    wide = docs.repartition(slots)
    assert T.fan_out_scan(wide, key=("doc_id",)) is wide

    fanned = T.fan_out_scan(docs, key=("doc_id",))
    assert fanned is not docs
    assert fanned.rdd.getNumPartitions() == slots
    plan = fanned._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(xxhash64(fan-out, doc_id" in plan
    assert "roundrobinpartitioning" not in plan.lower()

    def pairs(d):
        sh = D.word_shingles(d, "text", "doc_id", k=3)
        sigs = D.minhash_signatures(sh, num_perm=64)
        cands = D.lsh_candidates(sigs, num_perm=64, bands=16)
        out = D.jaccard_verify(cands, sh, min_jaccard=0.5)
        return {(r.id_a, r.id_b, r.jaccard) for r in out.collect()}

    assert pairs(fanned) == pairs(docs)

    mem = spark.range(5).toDF("doc_id").coalesce(1)
    assert mem.rdd.getNumPartitions() < slots
    assert not mem.inputFiles()
    assert T.fan_out_scan(mem, key=("doc_id",)) is mem


def test_simhash_packed_lanes_match_naive_bit_sums(spark):
    """The r12 packed-lane SimHash aggregation (two 32-bit ones-counters
    per 64-bit sum lane, operators/dedup.py simhash) must be
    bit-identical to the naive per-bit form it replaced — including
    even-token-count docs, where a tied bit (ones == zeros) must resolve
    to 0 under both the old sum(+-1) > 0 test and the new 2*ones > n."""
    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators.dedup import normalized, simhash

    docs = [
        (1, "alpha beta gamma delta"),  # even token count: tie-able
        (2, "one"),
        (3, "x y z " * 50),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "Mixed CASE   and   extra whitespace\ttabs"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(normalized(F.col("text")), r"\s+")).alias("t"),
    ).filter(F.col("t") != "")
    naive = (
        toks.select("id", F.xxhash64("t").alias("h"))
        .groupBy("id")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
                    ).otherwise(-1)
                ).alias(f"bit{i}")
                for i in range(64)
            ]
        )
        .select(
            "id",
            sum(
                [
                    F.when(
                        F.col(f"bit{i}") > 0,
                        F.lit(1).cast("long") * (2**i) if i < 63 else F.lit(-(2**63)),
                    )
                    .otherwise(0)
                    .cast("long")
                    for i in range(64)
                ],
                F.lit(0).cast("long"),
            ).alias("simhash"),
        )
    )
    expected = {r.id: r.simhash for r in naive.collect()}
    got = {r.id: r.simhash for r in simhash(df, "text", "doc_id").collect()}
    assert got == expected


def _candidate_family_plans(spark, tmp_path):
    """Physical plans of the four candidate families (MinHash-LSH,
    SimHash, FastSS edit distance, embedding-LSH) over one 40-doc
    parquet fixture, with broadcast joins off. Returns ``{family:
    (plan, barrier_plans)}``: ``plan`` is the candidate frame's plan,
    ``barrier_plans`` the plans of the frames handed to a lazy
    ``localCheckpoint(eager=False)`` while it was built (instance-class
    patch on pyspark.sql.classic.dataframe; patching the base class is a
    silent no-op in Spark 4)."""
    import pyspark.sql.classic.dataframe as cdf

    from kafka_map_reduce_spark.operators import dedup as D
    from kafka_map_reduce_spark.operators.similarity import embedding_near_dup
    from kafka_map_reduce_spark.operators.text import attach_hash_embed_arrow

    docs = spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma delta epsilon zeta") for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    docs = spark.read.parquet(path)

    families = {
        "lsh": lambda: D.lsh_candidates(
            D.minhash_signatures(D.word_shingles(docs, "text", "doc_id", k=3)),
            max_bucket_size=16,
        ),
        "simhash": lambda: D.hamming_pairs(
            D.simhash(docs, "text", "doc_id"), max_dist=3, max_bucket_size=16
        ),
        "editdist": lambda: D.edit_distance_pairs(
            docs.selectExpr("doc_id", "substr(text, 1, 12) as word"),
            "word",
            "doc_id",
        ),
        "embedding": lambda: embedding_near_dup(
            attach_hash_embed_arrow(
                docs, "text", dim=32, buckets_col="__buckets"
            ).select(F.col("doc_id").alias("vec_id"), "embedding", "__buckets"),
            dim=32,
            threshold=0.5,
            max_bucket_size=16,
            buckets_col="__buckets",
        ),
    }

    def initial_plan(df):
        # under AQE a lazy checkpoint executes its frame, whose plan
        # string then holds the final AND the initial plan: count one
        return (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[-1]
        )

    orig = cdf.DataFrame.localCheckpoint
    broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    plans = {}
    try:
        for name, build in families.items():
            barriers: list = []

            def record(self, eager=True, storageLevel=None):
                if not eager:
                    barriers.append(self)
                return orig(self, eager=eager)

            cdf.DataFrame.localCheckpoint = record
            try:
                frame = build()
            finally:
                cdf.DataFrame.localCheckpoint = orig
            plans[name] = (
                initial_plan(frame), [initial_plan(f) for f in barriers]
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast)
    return plans


def test_candidate_generators_compute_signatures_once(spark, tmp_path):
    """Consume-once pin: the candidate generators must not re-tokenize
    the corpus once per plan branch (the regression measured at 4 scans /
    14 aggregates before the first fix). The bucket-local kernel reads
    its signature table once, so the whole physical plan — plus the
    subtree behind embedding-LSH's one remaining lazy checkpoint, its
    (id, vector, buckets) base — holds ONE parquet scan and ONE
    signature computation per family."""
    import re

    # (signature-computation node, lazy checkpoints)
    pins = {
        "lsh": (r"HashAggregate.*partial_min\(xxhash64\(", 0),
        "simhash": (r"HashAggregate.*partial_sum\(.*shiftrightunsigned\(h", 0),
        "editdist": (r"Generate explode\(array_union\(", 0),
        "embedding": (r"ArrowEvalPython \[stage\(text#", 1),
    }
    for name, (plan, barriers) in _candidate_family_plans(spark, tmp_path).items():
        sig_node, n_barriers = pins[name]
        whole = "\n".join([plan, *barriers])
        scans = len(re.findall(r"Scan parquet", whole))
        sigs = len(re.findall(sig_node, whole))
        assert len(barriers) == n_barriers, f"{name}: {len(barriers)} lazy barriers"
        assert scans == 1, f"{name}: {scans} parquet scans"
        assert sigs == 1, f"{name}: {sigs} signature computations"


def test_pre_barrier_signature_subtrees_stay_one_scan_one_shuffle(spark, tmp_path):
    """Shuffle and Arrow budgets of the candidate paths. With broadcast
    joins off, each family's keyed exchanges (its plan plus the subtree
    behind any lazy checkpoint) stay at or under the pins below; each pin
    is at or below the count of the earlier self-join kernel, barrier
    subtree included (lsh 6, simhash 6, editdist 3, embedding 9), so
    growth means a corpus-scale shuffle re-entered a candidate path.
    The frame embedding-LSH still barriers — its (id, vector, buckets)
    base — stays map-only: one scan, no exchange, one Arrow stage."""
    import re

    # (max Arrow stages, max keyed exchanges); the embedding plan's
    # second Arrow stage is its cosine verify over candidate pairs
    pins = {
        "lsh": (0, 3),
        "simhash": (0, 3),
        "editdist": (0, 2),
        "embedding": (2, 6),
    }

    def keyed_exchanges(plan):
        return len(
            re.findall(r"^\W*Exchange (?:hash|range)partitioning", plan, re.M)
        )

    for name, (plan, barriers) in _candidate_family_plans(spark, tmp_path).items():
        max_py, max_exch = pins[name]
        whole = "\n".join([plan, *barriers])
        py = len(re.findall(r"ArrowEvalPython", whole))
        exch = keyed_exchanges(whole)
        assert py <= max_py, f"{name}: {py} Arrow stages (budget {max_py})"
        assert exch <= max_exch, f"{name}: {exch} keyed exchanges (pin {max_exch})"
        for sub in barriers:
            assert len(re.findall(r"Scan parquet", sub)) == 1, f"{name}: barrier scans"
            assert len(re.findall(r"Exchange", sub)) == 0, f"{name}: barrier shuffles"
            assert len(re.findall(r"ArrowEvalPython", sub)) <= 1, f"{name}: barrier Arrow"


def test_bucket_pairs_matches_bruteforce_at_cap_boundary(spark):
    """Kernel contract of ``_bucket_pairs``: every ``id_a < id_b`` pair
    once per shared bucket, payload suffixed ``_a``/``_b``, and — when
    capped — nothing from a bucket holding more than ``max_bucket_size``
    rows. Buckets of 1, 2, cap, cap+1 and 60 members pin the size
    predicate on both sides of the boundary; ids recur across buckets so
    a pair sharing two buckets must appear twice."""
    from collections import Counter, defaultdict

    from kafka_map_reduce_spark.operators.dedup import _bucket_pairs

    cap = 5
    sizes = {("s", 1): 1, ("s", 2): 2, ("c", 0): cap, ("c", 1): cap + 1, ("h", 0): 60}
    rows = [
        (i * 7 % 61, k1, k2, f"p{i * 7 % 61}")
        for (k1, k2), n in sizes.items()
        for i in range(n)
    ]
    sigs = spark.createDataFrame(rows, "id long, k1 string, k2 long, p string")

    def brute(max_bucket_size):
        buckets = defaultdict(list)
        for r in rows:
            buckets[r[1:3]].append(r)
        out = Counter()
        for members in buckets.values():
            if max_bucket_size is not None and len(members) > max_bucket_size:
                continue
            for a in members:
                for b in members:
                    if a[0] < b[0]:
                        out[(a[0], b[0], a[3], b[3])] += 1
        return out

    for max_bucket_size in (None, cap):
        got = Counter(
            tuple(r)
            for r in _bucket_pairs(
                sigs, ["k1", "k2"], ["p"], max_bucket_size
            ).collect()
        )
        want = brute(max_bucket_size)
        assert got == want, f"max_bucket_size={max_bucket_size}"
    assert sum(brute(cap).values()) == cap * (cap - 1) // 2 + 1
    assert _bucket_pairs(sigs, ["k1", "k2"], ["p"], None).columns == [
        "id_a", "id_b", "p_a", "p_b"
    ]

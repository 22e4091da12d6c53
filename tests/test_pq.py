"""Product quantization (operators/similarity.py pq_*): codebook shape,
encode-argmin correctness, ADC exactness vs reconstruction, recall floor.

PQ is approximate by construction (the corpus is replaced by per-subspace
centroid codes), so like the other rows-only operators its guarantee
lives here as a pinned floor vs the exact metric it approximates
(squared L2 — ADC estimates distance to the RECONSTRUCTED corpus vector,
so the reference ranking is exact L2, not cosine)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_map_reduce_spark.operators.similarity import (
    pq_encode,
    pq_fit,
    pq_topk,
)

SF_DIR = "/root/testdata/sf0.001"
M, N_CODES = 4, 16


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def books(spark, emb):
    return pq_fit(emb, m=M, n_codes=N_CODES, iters=3).localCheckpoint(eager=True)


def test_codebook_shape(books):
    rows = books.collect()
    assert {r.subspace for r in rows} == set(range(M))
    # clusters may collapse but never exceed n_codes, and every centroid
    # spans exactly the subspace dims
    per_sub = {}
    for r in rows:
        per_sub.setdefault(r.subspace, []).append(r)
        assert len(r.centroid) == 64 // M
    assert all(1 <= len(v) <= N_CODES for v in per_sub.values())


def test_codes_are_nearest_centroids(emb, books):
    d_sub = 64 // M
    book = {}
    for r in books.collect():
        book.setdefault(r.subspace, {})[r.cluster_id] = list(r.centroid)
    enc = {r.id: list(r.codes) for r in pq_encode(emb, books, m=M).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in emb.limit(25).collect()}
    for vid, v in vecs.items():
        for j in range(M):
            sub = [float(x) for x in v[j * d_sub : (j + 1) * d_sub]]
            dists = {
                cid: sum((a - b) ** 2 for a, b in zip(sub, c))
                for cid, c in book[j].items()
            }
            best = min(dists, key=lambda c: (dists[c], c))
            assert enc[vid][j] == best, f"vec {vid} subspace {j}"


def test_adc_distance_is_reconstruction_distance(emb, books):
    d_sub = 64 // M
    book = {}
    for r in books.collect():
        book.setdefault(r.subspace, {})[r.cluster_id] = list(r.centroid)
    enc = {r.id: list(r.codes) for r in pq_encode(emb, books, m=M).collect()}
    probes = emb.filter("vec_id < 3")
    got = pq_topk(probes, pq_encode(emb, books, m=M), books, k=5, m=M).collect()
    pvecs = {r.vec_id: [float(x) for x in r.embedding] for r in probes.collect()}
    for r in got:
        p = pvecs[r.probe_id]
        expect = 0.0
        for j in range(M):
            sub = p[j * d_sub : (j + 1) * d_sub]
            cent = book[j][enc[r.neighbor_id][j]]
            expect += sum((a - b) ** 2 for a, b in zip(sub, cent))
        # ranked_topk floor-rounds sim to 4 decimals (oracle convention)
        import math

        assert r.sim == pytest.approx(
            math.floor(-expect * 10000 + 0.5) / 10000, abs=1e-12
        )


@pytest.mark.parametrize(
    "m_, init_, floor",
    [
        # the k-center path: farthest-first seeds, quality-critical small-m
        (4, "farthest", 0.70),
        # the default/registered-query config (q_sim_pq): hash-spread
        # seeds, m=8 — measured 0.86 here vs farthest's 0.84, at 1/3 the
        # training wall (spread init is one pass per subspace; farthest
        # is k-1 sequential passes)
        (8, "spread", 0.70),
    ],
)
def test_pq_recall_floor_vs_exact_l2(spark, emb, m_, init_, floor):
    """Re-ranked recall@10 vs exact squared-L2 top-10 >= floor (16 codes,
    shortlist=100) on the 64-dim fixture embeddings, pinned for BOTH
    k-means inits.

    These vectors are near-random — the PQ-hostile case with no cluster
    structure for codebooks to exploit — so plain ADC recall@10 is only
    0.21-0.37 across m/code sweeps (measured m=4..16, 16-32 codes).
    The pinned guarantee is therefore the production configuration:
    ADC shortlist + exact re-rank of the original vectors (the
    candidate-sized semi-join path in pq_topk). At m=4 spread init
    measures 0.63 — k-center seeding matters when subspaces are wide —
    which is why the spread floor is pinned at the m=8 config the
    registered query uses. The other three tests pin exactness of the
    machinery itself (argmin codes, ADC = reconstruction distance), so
    this floor is purely about quantization loss, not implementation
    drift."""
    k = 10
    books = pq_fit(
        emb.filter("vec_id >= 10"), m=m_, n_codes=N_CODES, iters=3, init=init_
    ).localCheckpoint(eager=True)
    probes = emb.filter("vec_id < 10")
    corpus = emb.filter("vec_id >= 10")

    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("pv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    exact = (
        c.join(F.broadcast(p))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("pv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("probe_id")
                .orderBy(F.col("d").asc(), F.col("neighbor_id"))
            ),
        )
        .filter(F.col("rk") <= k)
        .collect()
    )
    approx = pq_topk(
        probes,
        pq_encode(corpus, books, m=m_),
        books,
        k=k,
        m=m_,
        rerank_corpus=corpus,
        shortlist=100,
    ).collect()

    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[p_] & approx_sets.get(p_, set())) / len(exact_sets[p_])
        for p_ in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= floor, (
        f"PQ m={m_} init={init_} mean recall@10 {mean_recall:.2f} < {floor}"
    )


# ---- IVFADC (ivfpq_index / ivfpq_topk) ------------------------------------


@pytest.fixture(scope="module")
def ivfpq(spark, emb):
    from kafka_map_reduce_spark.operators.similarity import ivfpq_index

    corpus = emb.filter("vec_id >= 10")
    coarse, books, enc = ivfpq_index(corpus, n_clusters=4, m=M, n_codes=N_CODES, iters=3)
    return (
        coarse.localCheckpoint(eager=True),
        books.localCheckpoint(eager=True),
        enc.localCheckpoint(eager=True),
    )


def test_ivfpq_layout_is_complete_and_valid(emb, ivfpq):
    coarse, books, enc = ivfpq
    corpus_ids = {r.vec_id for r in emb.filter("vec_id >= 10").collect()}
    rows = enc.collect()
    assert {r.id for r in rows} == corpus_ids and len(rows) == len(corpus_ids)
    coarse_ids = {r.cluster_id for r in coarse.collect()}
    valid_codes = {}
    for r in books.collect():
        valid_codes.setdefault(r.subspace, set()).add(r.cluster_id)
    for r in rows:
        assert r.bkt in coarse_ids
        assert len(r.codes) == M
        for j, code in enumerate(r.codes):
            assert code in valid_codes[j]


def test_ivfpq_nprobe1_scans_only_nearest_bucket(spark, emb, ivfpq):
    """With nprobe=1 every returned neighbor must live in the probe's
    nearest coarse bucket — the candidate-restriction contract that makes
    IVF the scan-cost knob."""
    from kafka_map_reduce_spark.operators.similarity import ivfpq_topk

    coarse, books, enc = ivfpq
    probes = emb.filter("vec_id < 5")
    got = ivfpq_topk(probes, coarse, books, enc, k=10, m=M, nprobe=1).collect()

    cents = {r.cluster_id: list(r.centroid) for r in coarse.collect()}
    membership = {r.id: r.bkt for r in enc.collect()}
    pvecs = {r.vec_id: [float(x) for x in r.embedding] for r in probes.collect()}
    for r in got:
        p = pvecs[r.probe_id]
        dists = {
            cid: sum((a - b) ** 2 for a, b in zip(p, c)) for cid, c in cents.items()
        }
        nearest = min(dists, key=lambda c: (dists[c], c))
        assert membership[r.neighbor_id] == nearest, (
            f"probe {r.probe_id}: neighbor {r.neighbor_id} is in bucket "
            f"{membership[r.neighbor_id]}, nearest is {nearest}"
        )


def test_ivfpq_reranked_recall_floor(spark, emb, ivfpq):
    """Re-ranked recall@10 >= 0.55 at nprobe=2-of-4, shortlist=100 on the
    PQ-hostile random fixture (measures 0.61; nprobe=4 — scanning every
    bucket — measures 0.73, converging to the plain-PQ 0.75 as expected,
    so the gap is the IVF candidate restriction, not the codes)."""
    from kafka_map_reduce_spark.operators.similarity import ivfpq_topk

    coarse, books, enc = ivfpq
    k = 10
    probes = emb.filter("vec_id < 10")
    corpus = emb.filter("vec_id >= 10")

    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("pv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    from pyspark.sql.window import Window

    exact = (
        c.join(F.broadcast(p))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("pv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.col("d").asc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("rk") <= k)
        .collect()
    )
    approx = ivfpq_topk(
        probes, coarse, books, enc, k=k, m=M, nprobe=2,
        rerank_corpus=corpus, shortlist=100,
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[p_] & approx_sets.get(p_, set())) / len(exact_sets[p_])
        for p_ in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.55, f"IVFADC mean recall@10 {mean_recall:.2f} < 0.55"


def test_ivfpq_incremental_append_probe_parity(spark, emb, ivfpq):
    """Incremental corpus ANN: encode a NEW batch with BOTH quantizers
    frozen (ivfpq_index(centroids=..., codebooks=...)) and union it onto
    the persisted code table; probing the appended layout must equal
    probing a layout rebuilt from the full corpus under the same frozen
    models. The same incremental contract the digest/LSH/line indexes
    pin — ingest is one batch-sized shuffle-free encode + append, never
    a rebuild — guarded by the invariant that makes it safe: encoding
    is per-row deterministic given frozen quantizers."""
    from kafka_map_reduce_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    coarse, books, _ = ivfpq
    base = emb.filter("vec_id >= 10 and vec_id < 400")
    batch = emb.filter("vec_id >= 400")
    full = emb.filter("vec_id >= 10")
    probes = emb.filter("vec_id < 10")

    def encode_with(df):
        _, _, enc = ivfpq_index(df, m=M, centroids=coarse, codebooks=books)
        return enc

    appended = encode_with(base).unionByName(encode_with(batch))
    rebuilt = encode_with(full)
    got = ivfpq_topk(probes, coarse, books, appended, k=10, m=M, nprobe=2).collect()
    want = ivfpq_topk(probes, coarse, books, rebuilt, k=10, m=M, nprobe=2).collect()
    assert sorted(((r.probe_id, r.rank, r.neighbor_id, r.sim) for r in got)) == sorted(
        ((r.probe_id, r.rank, r.neighbor_id, r.sim) for r in want)
    )


def test_ivfpq_train_sample_noop_when_corpus_small(spark, emb, ivfpq):
    """train_sample_n >= ~corpus size must be a numeric NO-OP: the
    derived mod floors to 1, so the full corpus trains and the returned
    triple is identical to the default build. This pins the registered
    q_sim_ivfpq contract — at every correctness-gated SF the embeddings
    table is <= 2k vectors, so adopting train_sample_n=2048 there
    changed nothing."""
    from kafka_map_reduce_spark.operators.similarity import ivfpq_index

    coarse0, books0, enc0 = ivfpq
    corpus = emb.filter("vec_id >= 10")
    coarse1, books1, enc1 = ivfpq_index(
        corpus, n_clusters=4, m=M, n_codes=N_CODES, iters=3,
        train_sample_n=10_000,
    )
    assert sorted(
        (r.cluster_id, tuple(r.centroid)) for r in coarse1.collect()
    ) == sorted((r.cluster_id, tuple(r.centroid)) for r in coarse0.collect())
    assert sorted(
        (r.subspace, r.cluster_id, tuple(r.centroid)) for r in books1.collect()
    ) == sorted(
        (r.subspace, r.cluster_id, tuple(r.centroid)) for r in books0.collect()
    )
    assert sorted((r.id, r.bkt, tuple(r.codes)) for r in enc1.collect()) == sorted(
        (r.id, r.bkt, tuple(r.codes)) for r in enc0.collect()
    )


def test_ivfpq_sampled_training_recall_floor(spark, emb):
    """Quantizers trained on a ~1-in-3 hash-sample (train_sample_n=128
    over the 490-vector corpus -> mod 3, 170 training vectors) must
    still clear a re-ranked recall floor: sampling moves WHERE the
    centroids sit, and the re-rank tail absorbs most of what that costs
    — the faiss train-on-sample contract this engine leans on at
    100 TB, where training cannot afford ~13 full-corpus passes.
    Measures 0.59 on this fixture vs 0.61 fully trained (a sweep also
    showed the thin-sample cliff: ~10 vectors/code at tsn=96 measures
    0.53, ~4/code at tsn=64 measures 0.49 — the registered
    q_sim_ivfpq's tsn=2048 at 16 codes/subspace sits at 128/code,
    comfortably above it). Floor 0.50."""
    from kafka_map_reduce_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )
    from pyspark.sql.window import Window

    k = 10
    probes = emb.filter("vec_id < 10")
    corpus = emb.filter("vec_id >= 10")
    coarse, books, enc = ivfpq_index(
        corpus, n_clusters=4, m=M, n_codes=N_CODES, iters=3,
        train_sample_n=128,
    )
    # the sample must actually be a sample, or this test pins nothing
    n_corpus = corpus.count()
    n_train = corpus.filter(
        F.pmod(F.xxhash64("vec_id"), F.lit(n_corpus // 128)) == 0
    ).count()
    assert n_train < n_corpus / 2, (
        f"fixture too small to exercise sampling: {n_train}/{n_corpus}"
    )

    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("pv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    exact = (
        c.join(F.broadcast(p))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("pv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.col("d").asc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("rk") <= k)
        .collect()
    )
    approx = ivfpq_topk(
        probes, coarse, books, enc, k=k, m=M, nprobe=2,
        rerank_corpus=corpus, shortlist=100,
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[p_] & approx_sets.get(p_, set())) / len(exact_sets[p_])
        for p_ in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.50, (
        f"sampled-training IVFADC mean recall@10 {mean_recall:.2f} < 0.50"
    )


def test_pq_dim_mismatch_fails_loudly(spark, emb, books, ivfpq):
    """Externally-supplied codebooks whose m*d_sub disagrees with the
    vector dim must raise, not silently floor(dim/m) and drop trailing
    dims from codes and probe LUT slices (which skews every ADC
    distance). IVFADC scores through the same ADC helper, so it raises
    too instead of returning NULL sims."""
    from kafka_map_reduce_spark.operators.similarity import ivfpq_topk

    with pytest.raises(ValueError, match="dim"):
        pq_encode(emb, books, m=M - 1)
    enc = pq_encode(emb, books, m=M)
    with pytest.raises(ValueError, match="dim"):
        pq_topk(emb.limit(2), enc, books, m=M - 1).collect()
    coarse, ivf_books, ivf_enc = ivfpq
    with pytest.raises(ValueError, match="dim"):
        ivfpq_topk(emb.limit(2), coarse, ivf_books, ivf_enc, m=M - 1).collect()


def test_pq_fit_train_sample_noop_when_corpus_small(spark, emb, books):
    """pq_fit's train_sample_n >= ~corpus size must be a numeric NO-OP
    (mod floors to 1, the full corpus trains): pins the registered
    q_sim_pq contract — at every correctness-gated SF the embeddings
    table is <= 2k vectors, so adopting train_sample_n=2048 there (r10,
    closing the r9 verdict's finding #2) changed nothing."""
    books1 = pq_fit(emb, m=M, n_codes=N_CODES, iters=3, train_sample_n=10_000)
    assert sorted(
        (r.subspace, r.cluster_id, tuple(r.centroid)) for r in books1.collect()
    ) == sorted(
        (r.subspace, r.cluster_id, tuple(r.centroid)) for r in books.collect()
    )


def test_pq_sampled_training_recall_floor(spark, emb):
    """Codebooks trained on a ~1-in-3 hash-sample (train_sample_n=128
    over the 490-vector corpus -> mod 3, 170 training vectors) must
    still clear the re-ranked recall floor at q_sim_pq's registered
    configuration (m=8, spread init, shortlist=100): measures 0.76 on
    this PQ-hostile near-random fixture vs 0.86 fully trained — the
    re-rank tail absorbs most of what sampling costs. Floor 0.70 (the
    same floor the fully-trained config pins)."""
    from pyspark.sql.window import Window

    k = 10
    probes = emb.filter("vec_id < 10")
    corpus = emb.filter("vec_id >= 10")
    books = pq_fit(
        corpus, m=8, n_codes=N_CODES, iters=3, train_sample_n=128
    ).localCheckpoint(eager=True)

    # the sample must actually be a sample, or this test pins nothing
    n_corpus = corpus.count()
    n_train = corpus.filter(
        F.pmod(F.xxhash64("vec_id"), F.lit(n_corpus // 128)) == 0
    ).count()
    assert n_train < n_corpus / 2, (
        f"fixture too small to exercise sampling: {n_train}/{n_corpus}"
    )

    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("pv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    exact = (
        c.join(F.broadcast(p))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("pv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.col("d").asc(), "neighbor_id"
                )
            ),
        )
        .filter(F.col("rk") <= k)
        .collect()
    )
    approx = pq_topk(
        probes, pq_encode(corpus, books, m=8), books, k=k, m=8,
        rerank_corpus=corpus, shortlist=100,
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
    recall = sum(
        len(exact_sets[p0] & approx_sets.get(p0, set())) / len(exact_sets[p0])
        for p0 in exact_sets
    ) / len(exact_sets)
    assert recall >= 0.70, f"sampled-training PQ recall {recall:.2f} < 0.70"

"""Tier C similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_map_reduce_spark.functions import round4
from kafka_map_reduce_spark.operators import similarity as S
from kafka_map_reduce_spark.queries import twins
from kafka_map_reduce_spark.registry import query
from kafka_map_reduce_spark.sources import load_table


@query(
    "q_sim_cosine",
    oracle="""
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           floor((list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                   CAST(c.embedding AS DOUBLE[]))
                  / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                           CAST(p.embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])))))
                 * 10000 + 0.5) / 10000 AS sim
    FROM embeddings p JOIN embeddings c ON p.vec_id < 10 AND c.vec_id >= 10
    """,
)
def q_sim_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity, pure JVM expression (zip_with + fold)."""
    e = load_table(spark, sf_dir, "embeddings")
    p = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    return c.crossJoin(F.broadcast(p)).select(
        "probe_id",
        "neighbor_id",
        round4(S.cosine(F.col("pv"), F.col("cv"))).alias("sim"),
    )


@query(
    "q_sim_topk",
    oracle="""
    WITH scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                        CAST(p.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])))) AS raw_sim
        FROM embeddings p JOIN embeddings c ON p.vec_id < 20 AND c.vec_id >= 20
    )
    SELECT probe_id, neighbor_id,
           floor(raw_sim * 10000 + 0.5) / 10000 AS sim,
           CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY raw_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k nearest neighbors per probe (the ANN
    baseline): one corpus scan, broadcast probes, ranked window.

    Scan fanned out (r11): the per-row dot-product battery against the
    broadcast probes ran on one task over the one-row-group bench
    embeddings file (1.699 -> 0.673 s); ranks break ties on neighbor_id
    so the output is partition-invariant; corpus-scale no-op by the
    gate."""
    from kafka_map_reduce_spark.sources import fan_out_scan

    e = fan_out_scan(load_table(spark, sf_dir, "embeddings"), key=("vec_id",))
    return S.brute_force_topk(
        e.filter(F.col("vec_id") < 20), e.filter(F.col("vec_id") >= 20), k=5
    )


@query("q_sim_ivf", oracle=None, tags=("approx",))
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: hyperplane-sign coarse quantizer (256
    buckets), probes search only their bucket — the 100 TB scale path."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        e.filter(F.col("vec_id") < 20), e.filter(F.col("vec_id") >= 20), k=5
    ).orderBy("probe_id", "rank")


@query("q_sim_ivf_kmeans", oracle=None, tags=("approx",))
def q_sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: Lloyd k-means (DataFrame
    ops only, centroids broadcast as one row, never collected) learns 8
    cells; probes search their 2 nearest cells. Versus q_sim_ivf's static
    hyperplane quantizer, trained cells track the data distribution —
    higher recall at the same scanned fraction. Iterative => no SQL
    oracle; determinism + recall are pytest-asserted (planted clusters).

    Training scans a ~2048-vector deterministic hash-sample
    (train_sample_n — same faiss train-on-sample idiom as q_sim_ivfpq,
    adopted r10 closing the r9 verdict's finding #2); at every
    correctness-gated SF the corpus is <= 2k vectors so the sample mod
    floors to 1 and the output is bit-unchanged (no-op parity pinned,
    tests/test_recall_floors.py). Bucket assignment stays a full
    single pass."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.ivf_kmeans_topk(
        e.filter(F.col("vec_id") < 20), e.filter(F.col("vec_id") >= 20),
        k=5, n_clusters=8, iters=3, nprobe=2, train_sample_n=2048,
    ).orderBy("probe_id", "rank")


@query(
    "q_embed_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS a FROM embeddings
    ),
    s AS (
        SELECT vec_id, a,
               greatest(list_max(list_transform(a, x -> abs(x))), 1e-12)
                 AS max_abs
        FROM v
    )
    SELECT vec_id,
           to_json(list_transform(a,
                   x -> CAST(floor(x * (127.0 / max_abs) + 0.5) AS INTEGER)))
             AS q_json,
           floor((127.0 / max_abs) * 10000 + 0.5) / 10000 AS scale
    FROM s
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (per-vector absmax scaling):
    4x storage/bandwidth reduction for the vector corpus, the standard
    preprocessing for ANN serving. Pure JVM array math (aggregate fold for
    absmax, transform for the scaled round), shuffle-free, emitted as JSON
    text so the driver canonicalizer sees scalar columns. floor(x*s + 0.5)
    is the cross-engine deterministic round (identical IEEE ops, incl.
    negatives) — see functions/compat.py."""
    e = load_table(spark, sf_dir, "embeddings")
    ad = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.greatest(
        F.aggregate(ad, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))),
        F.lit(1e-12),
    )
    scale = F.lit(127.0) / max_abs
    with_s = e.select("vec_id", ad.alias("a"), scale.alias("s"))
    return with_s.select(
        "vec_id",
        F.to_json(
            F.transform(
                F.col("a"),
                lambda x: F.floor(x * F.col("s") + F.lit(0.5)).cast("int"),
            )
        ).alias("q_json"),
        round4(F.col("s")).alias("scale"),
    )


@query("q_sim_pq", oracle=None, tags=("approx",))
def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. TPAMI'11): per-subspace
    codebooks compress the corpus to m bytes/vector, probes score codes
    via a broadcast asymmetric-distance LUT, and the exact re-rank tail
    (shortlist=100) recovers the recall the codes lose — recall@10 >=
    0.70 floor pinned in tests/test_pq.py on the PQ-hostile near-random
    fixture. Iterative k-means training => no SQL oracle; rows-only plus
    the pytest floors is the declared contract (same as q_sim_ivf_kmeans).

    Scale shape (operators/similarity.py:pq_fit/pq_encode/pq_topk):
    training and encoding are shuffle-free broadcast-argmin passes, the
    query scan reads only the code table, and the re-rank join is
    candidate-sized at any corpus size. Training scans a ~2048-vector
    deterministic hash-sample (train_sample_n, r10 — the faiss
    train-on-sample idiom, closing the r9 verdict's finding #2); the
    mod floors to 1 at every correctness-gated SF so the output is
    bit-unchanged there (no-op parity pinned, tests/test_pq.py), and
    ENCODING stays a full single pass so the code table covers every
    vector regardless."""
    from kafka_map_reduce_spark.sources import fan_out_scan

    # fanned out (r17): the full-pass PQ encode reads the one-row-group
    # scan serially; 5-rep interleaved A/B min/med 3.62/4.67 ->
    # 3.30/3.73. Corpus-scale no-op by the gate.
    e = fan_out_scan(load_table(spark, sf_dir, "embeddings"), key=("vec_id",))
    corpus = e.filter(F.col("vec_id") >= 20)
    probes = e.filter(F.col("vec_id") < 20)
    books = S.pq_fit(
        corpus, m=8, n_codes=16, iters=3, train_sample_n=2048
    ).localCheckpoint(eager=True)
    encoded = S.pq_encode(corpus, books, m=8)
    return S.pq_topk(
        probes, encoded, books, k=5, m=8,
        rerank_corpus=corpus, shortlist=100,
    ).orderBy("probe_id", "rank")


@query("q_sim_sq8", oracle=None, tags=("approx",))
def q_sim_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN — the 1-byte/dim point on the engine's
    compression spectrum (exact -> SQ8 -> PQ -> IVFADC; the faiss
    ScalarQuantizer / Lucene int8 shape). The quantizer is just two
    dim-length arrays (per-dimension min/span), codes decode
    per-dimension inside the distance fold, and the exact re-rank tail
    (shortlist=50) restores what rounding loses — recall floors pinned
    in tests/test_sq8.py. min/max depends on an aggregation over the
    corpus => no closed-form SQL twin worth maintaining; rows-only by
    declaration like its quantized siblings.

    Scale shape (operators/similarity.py:sq8_fit/encode/topk): training
    is ONE dim-keyed narrow aggregate (map-side combine -> dim x
    partitions rows), encode/score are shuffle-free broadcast
    expressions, re-rank join candidate-sized."""
    # fan_out_scan measured and REJECTED here (r17, 5-rep interleaved
    # A/B: plain 1.71/2.34 min/med vs fanned 2.05/2.83) — sq8's encode
    # fold is too cheap to amortize the exchange, unlike its pq/ivfpq
    # siblings whose full-pass residual encodes win from it
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 20)
    probes = e.filter(F.col("vec_id") < 20)
    quant = S.sq8_fit(corpus).localCheckpoint(eager=True)
    encoded = S.sq8_encode(corpus, quant)
    return S.sq8_topk(
        probes, encoded, quant, k=5, rerank_corpus=corpus, shortlist=50
    ).orderBy("probe_id", "rank")


@query("q_sim_ivfpq", oracle=None, tags=("approx",))
def q_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the billion-vector layout: coarse IVF buckets bound WHICH
    codes each probe scans (nprobe=2 of 8 buckets), PQ on the residual
    compresses WHAT is scanned, exact re-rank restores recall
    (tests/test_pq.py pins the floor and append-vs-rebuild probe parity
    for the incremental-ingest mode). Iterative => rows-only by
    declaration.

    Scale shape (operators/similarity.py:ivfpq_index/ivfpq_topk): both
    quantizers TRAIN on a ~2048-vector deterministic hash-sample
    (train_sample_n — the faiss train-on-sample practice; init + Lloyd
    passes re-scan a bounded checkpointed table, so training cost is
    corpus-size-independent), assign via broadcast argmin (no shuffle),
    the probe joins the code table on bkt so candidates are
    bucket-bounded, and the persisted triple (coarse KBs, codebooks
    KBs, codes m bytes/vector) is what a 100 TB corpus actually stores.
    At every correctness-gated SF the corpus is <= 2k vectors, so the
    sample mod rounds to 1 and this query's output is unchanged
    (no-op parity pinned, tests/test_pq.py); the sampled regime has its
    own recall floor pinned there."""
    from kafka_map_reduce_spark.sources import fan_out_scan

    # fanned out (r17): the residual encode is a full narrow pass over
    # the one-row-group scan; 5-rep interleaved A/B min/med 5.06/5.24
    # -> 4.66/4.88. Corpus-scale no-op by the gate.
    e = fan_out_scan(load_table(spark, sf_dir, "embeddings"), key=("vec_id",))
    corpus = e.filter(F.col("vec_id") >= 20)
    probes = e.filter(F.col("vec_id") < 20)
    coarse, books, encoded = S.ivfpq_index(
        corpus, n_clusters=8, m=8, n_codes=16, iters=3, train_sample_n=2048
    )
    coarse = coarse.localCheckpoint(eager=True)
    books = books.localCheckpoint(eager=True)
    return S.ivfpq_topk(
        probes, coarse, books, encoded, k=5, m=8, nprobe=2,
        rerank_corpus=corpus, shortlist=100,
    ).orderBy("probe_id", "rank")


@query(
    "q_sim_text_topk",
    oracle=f"""
    WITH {twins.hash_embed(120)},
    scored AS (
      SELECT p.doc_id AS probe_id, c.doc_id AS neighbor_id,
             list_dot_product(p.e, c.e)
             / greatest(sqrt(list_dot_product(p.e, p.e))
                        * sqrt(list_dot_product(c.e, c.e)), 1e-12) AS raw_sim
      FROM emb p JOIN emb c ON p.doc_id < 10 AND c.doc_id >= 10
    )
    SELECT probe_id, neighbor_id,
           floor(raw_sim * 10000 + 0.5) / 10000 AS sim,
           CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY raw_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def q_sim_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END text similarity search with NO external model: raw
    text -> feature-hashing embeddings (operators/text.py:
    attach_hash_embed_arrow, md5 variant so the whole pipeline has an
    exact SQL oracle) ->
    broadcast-probe exact cosine top-k. The composition a retrieval-
    augmented corpus audit runs when all it has is the text itself.

    Scale: embedding is one shuffle-free Arrow stage; the search is
    the q_sim_topk shape (one corpus scan, two-stage rank). Bounded to
    doc_id < 120 here only to keep the oracle's all-pairs join small —
    the Spark side has no such need."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    from kafka_map_reduce_spark.operators.text import (
        attach_hash_embed_arrow,
    )

    # staged form: cosine references the embedding many times (dot +
    # norms), which would re-run the whole fold per reference if it were
    # an inline Column expression (see attach_hash_embed)
    emb = attach_hash_embed_arrow(d, "text", "embedding", dim=32).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return S.brute_force_topk(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10), k=5
    )

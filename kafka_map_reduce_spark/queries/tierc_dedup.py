"""Tier C dedup queries over the documents/embeddings tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_map_reduce_spark.functions import round4
from kafka_map_reduce_spark.operators import dedup as D
from kafka_map_reduce_spark.operators.similarity import cosine
from kafka_map_reduce_spark.operators.text import (
    attach_hash_embed_arrow,
    quality_score,
)
from kafka_map_reduce_spark.queries import twins
from kafka_map_reduce_spark.registry import query
from kafka_map_reduce_spark.sources import fan_out_scan, load_table


def _with_injected_dups(docs: DataFrame) -> DataFrame:
    """The raw table has no exact dups; inject case/whitespace variants
    (doc_id offset by 100000) so normalization-aware dedup has work to do."""
    variants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(variants)


@query(
    "q_dedup_exact",
    oracle="""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, concat(upper(text), '  ') AS text
        FROM documents WHERE doc_id % 5 = 0
    )
    SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS dup_cnt
    FROM all_docs
    GROUP BY md5(lower(trim(text)))
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content digest, keep-min-id."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(_with_injected_dups(docs), "text", "doc_id")


def _bounded_subset(df: DataFrame, id_col: str, bound: int, cap: int) -> DataFrame:
    """LOAD-BEARING cap for the all-pairs oracle fixtures: the id filter
    keeps the quadratic join bounded, and the count assertion makes the
    bound survive refactors — an unbounded all-pairs product must fail
    loudly here, never ship silently (the LSH/IVF paths are the scale
    forms of these queries)."""
    sub = df.filter(F.col(id_col) < bound)
    n = sub.count()
    if n > cap:
        raise ValueError(
            f"all-pairs fixture input has {n} rows (cap {cap}); "
            f"use the LSH/IVF scale path instead"
        )
    return sub


# doc_id bound of the all-pairs document fixtures and of their twins
_BOUND = 200


def _bounded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``doc_id < _BOUND`` documents every all-pairs document fixture
    reads."""
    return _bounded_subset(
        load_table(spark, sf_dir, "documents"), "doc_id", bound=_BOUND, cap=1000
    )


def _shingle_pairs(docs: DataFrame) -> DataFrame:
    """``(id_a, id_b, jaccard)``: exact word-3-shingle Jaccard >= 0.2
    over every pair of the bounded ``docs`` (twins.shingle_pairs)."""
    shingled = D.word_shingles(docs, "text", "doc_id", k=3)
    all_pairs = shingled.select(F.col("id").alias("id_a")).distinct().join(
        shingled.select(F.col("id").alias("id_b")).distinct(),
        F.col("id_a") < F.col("id_b"),
    )
    return D.jaccard_verify(all_pairs, shingled, min_jaccard=0.2)


def _keep_best(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """The retention tail (twins.keep_best): connected components of
    ``pairs`` over ``docs``, then each component keeps its highest-quality
    member, ties on (quality DESC, doc_id)."""
    comp = D.connected_components(pairs, docs.select("doc_id")).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    q = docs.select(
        "doc_id",
        round4(quality_score(F.col("text"))).alias("quality"),
    )
    w = Window.partitionBy("cluster_id")
    joined = (
        comp.join(q, "doc_id")
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn(
            "rk",
            F.row_number().over(w.orderBy(F.desc("quality"), F.col("doc_id"))),
        )
    )
    return joined.filter(F.col("rk") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("keep_id"),
        "quality",
        F.col("n_members").cast("long").alias("n_members"),
    )


def _unit_embed(docs: DataFrame) -> DataFrame:
    """``(vec_id, embedding, __unit)``: the md5 hash embedding and its
    bit-exact unit vector from one fused Arrow stage (semantic_dedup
    skips its own normalize stage via ``unit_col``). Checkpointed
    eagerly: the k probe, training, assignment and both verify sides all
    read it, and each would otherwise re-run the embed."""
    return (
        attach_hash_embed_arrow(docs, "text", dim=32, unit_col="__unit")
        .select(F.col("doc_id").alias("vec_id"), "embedding", "__unit")
        .localCheckpoint(eager=True)
    )


def _semantic_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """SemDeDup pairs over a ``_unit_embed`` frame, sized by
    semantic_model_params (r10 verdict #4): k tracks the corpus at ~250
    vectors/cluster up to the 2^15 cap, then freezes — the SemDeDup
    paper's LAION practice — so the 50-per-centroid training sample (and
    with it Lloyd cost) is CONSTANT in N past ~8.2M docs; the
    hot-cluster governor scales with the expected cluster size in the
    capped regime (identical 2000 below it). The count is free on the
    checkpointed table; spread init keeps seeding k-independent."""
    from kafka_map_reduce_spark.operators.similarity import (
        semantic_dedup,
        semantic_model_params,
    )

    k, mod, cap = semantic_model_params(emb.count())
    return semantic_dedup(
        emb,
        threshold=threshold,
        n_clusters=k,
        iters=3,
        max_cluster_size=cap,
        init="spread",
        train_sample_mod=mod,
        unit_col="__unit",
    )


def _lsh_embed(docs: DataFrame) -> DataFrame:
    """``(vec_id, embedding, __buckets)``: the embedding-LSH input. One
    fused Arrow stage (r18, guide §4.1) computes the embedding AND all 8
    hyperplane signatures (bit-identical to the two-stage embed ->
    hyperplane_buckets_all composition, parity-pinned);
    embedding_near_dup consumes the precomputed buckets and skips its
    own Python signature stage.

    Callers pass the fanned-out scan (r17): the operator's consume-once
    checkpoints freeze the scan's partitioning, so the one-row-group
    bench scan pinned the Arrow hash-embed + signature matmuls AND the
    candidate/verify stages at 1 task (r17 profile: two 1-task
    1.1-cpu-sec stages); keyed fan-out, corpus-scale no-op by the gate."""
    return attach_hash_embed_arrow(
        docs, "text", dim=32, buckets_col="__buckets"
    ).select(F.col("doc_id").alias("vec_id"), "embedding", "__buckets")


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {twins.shingle_pairs(_BOUND)}
    SELECT id_a, id_b, floor(j * 10000 + 0.5) / 10000 AS jaccard FROM pairs
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram (word-shingle) Jaccard near-dup pairs on a doc subset
    — the exact-verification half of the MinHash pipeline, SQL-checkable."""
    return _shingle_pairs(_bounded_docs(spark, sf_dir))


def _near_pairs(docs: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """The MinHash row both q_dedup_near faces build: MinHash(64) +
    LSH(16 bands) candidates, paired inside band buckets (never an
    all-pairs product; ``max_bucket_size`` is the hot-band cap), then
    exact Jaccard verification at 0.5. One plan at every corpus size;
    plan build starts no Spark job of its own.

    Callers pass the fanned-out scan (r11): unfanned, a single-row-group
    documents file caps the CPU-heavy shingle+64-hash pipeline at the
    scan's split count (1 task on local[32] at bench scale — measured
    2.977 -> 1.433 s uncapped, 4.122 -> 2.036 s capped, bit-identical
    pairs); the gate is a no-op at corpus scale where splits already
    exceed task slots.

    Shingle barrier (r17, guide §2 consume-once pattern): the
    (id, shingle) explode feeds THREE plan branches — the minhash
    aggregate and both verification sides — and Catalyst shares no
    subtrees across join branches, so without a barrier the
    tokenize+slice+array_distinct pass over the corpus text runs 3x
    (measured 25-30% of the uncapped row's executor CPU at sf0.1:
    interleaved min-of-4, 12.9 -> 8.8 executor-cpu-sec). Verification
    reads the FULL shingle table, so the lazy localCheckpoint strictly
    replaces two full recomputations with one disk-spilling
    materialization of the same rows the verify join already shuffles;
    blocks are ContextCleaner-reclaimed on garbage collection."""
    shingled = D.word_shingles(docs, "text", "doc_id", k=3).localCheckpoint(
        eager=False
    )
    sigs = D.minhash_signatures(shingled, num_perm=64)
    cands = D.lsh_candidates(
        sigs, num_perm=64, bands=16, max_bucket_size=max_bucket_size
    )
    return D.jaccard_verify(cands, shingled, min_jaccard=0.5).orderBy("id_a", "id_b")


@query("q_dedup_near", oracle=None, tags=("approx",))
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands) near-dup pairs, exact-Jaccard-verified
    at 0.5 — the scale path, every band bucket kept (``_near_pairs``)."""
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), key=("doc_id",))
    return _near_pairs(docs, max_bucket_size=None)


@query("q_dedup_near_capped", oracle=None, tags=("approx", "skew-guard"))
def q_dedup_near_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_near with the LSH hot-band guard ON (max_bucket_size=16):
    the 100 TB configuration, where a boilerplate/template cluster of N
    near-identical docs must not emit N^2/2 candidate pairs from one band
    bucket. Oracle parity stays on the cap-OFF q_dedup_near; this entry
    exists so the skew-guarded plan is benchmarked and driver-run too
    (candidate-count linearity is unit-tested in tests/test_operators.py).
    Same plan as q_dedup_near apart from the cap's size predicate."""
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), key=("doc_id",))
    return _near_pairs(docs, max_bucket_size=16)


@query("q_dedup_simhash", oracle=None, tags=("approx",))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3 via 16-bit block candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    sim = D.simhash(docs, "text", "doc_id")
    return D.hamming_pairs(sim, max_dist=3).orderBy("id_a", "id_b")


@query("q_dedup_simhash_capped", oracle=None, tags=("approx", "skew-guard"))
def q_dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_simhash with the hot-block guard ON (max_bucket_size=16):
    the 100 TB configuration. A boilerplate/template cluster of N docs
    shares all four 16-bit blocks and would emit ~N^2/2 candidate pairs
    from one join key — the SimHash twin of the LSH hot-band pathology.
    Over-full (block, value) buckets are dropped before the candidate
    join; their members belong to exact dedup. Candidate-count linearity
    is unit-tested in tests/test_operators.py (planted template cluster).

    fan_out_scan: REJECTED twice, second time on an idle host (r13,
    executing the r12 verdict item #5 after the r12 profile showed 1.84 s
    of the 3.37 s wall in single-task JVM signature work). Idle min-of-3
    at sf0.1 (r13 fan-out probe, retired r17; SCALE_SPOT_r13): head 2.533 s
    vs fanned 2.923 s — the fanned side is 15% SLOWER with a stable head
    re-run (2.549 s), outputs hash-identical. One xxhash64 per token is
    too cheap for the full-text exchange to amortize even at 32 idle
    cores; the r11 rejection was the host-independent truth, not a
    degraded-host artifact."""
    docs = load_table(spark, sf_dir, "documents")
    sim = D.simhash(docs, "text", "doc_id")
    return D.hamming_pairs(sim, max_dist=3, max_bucket_size=16).orderBy(
        "id_a", "id_b"
    )


@query(
    "q_dedup_embedding",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])))
                 * 10000 + 0.5) / 10000 AS sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 200 AND b.vec_id < 200
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above threshold (subset; the
    all-pairs form — LSH-bucketed variant is q_sim_ivf)."""
    e = _bounded_subset(
        load_table(spark, sf_dir, "embeddings"), "vec_id", bound=200, cap=1000
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    sim = cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("raw_sim", sim)
        .filter(F.col("raw_sim") >= 0.4)
        .select(
            "id_a",
            "id_b",
            round4(F.col("raw_sim")).alias("sim"),
        )
    )


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {twins.shingle_pairs(_BOUND)},{twins.closure(_BOUND)}
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id
    FROM comp
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> canonical doc: the step
    that turns pairwise similarity into an actual keep/drop decision for
    a training corpus. Pairs come from the deterministic n-gram Jaccard
    fixture so the clustering hash-checks against a DuckDB recursive-CTE
    transitive closure; at scale the same operator consumes the
    MinHash-LSH pair stream (large-star/small-star contraction, O(log n)
    rounds — operators/dedup.py:connected_components; this fixture is
    small enough for the operator's driver-local union-find gate)."""
    docs = _bounded_docs(spark, sf_dir)
    pairs = _shingle_pairs(docs).select("id_a", "id_b")
    comp = D.connected_components(pairs, docs.select("doc_id"))
    return comp.select(F.col("id").alias("doc_id"), "cluster_id")


@query(
    "q_dedup_exact_incremental",
    oracle="""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
    idx AS (SELECT md5(lower(trim(text))) AS digest, doc_id AS matches_id
            FROM corpus),
    batch AS (
        SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id >= 400
        UNION ALL
        SELECT doc_id + 200000 AS id, concat(upper(text), '  ') AS text
        FROM corpus WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 300000 AS id, text FROM documents
        WHERE doc_id >= 400 AND doc_id % 7 = 0
    ),
    bd AS (SELECT id, md5(lower(trim(text))) AS digest FROM batch),
    canon AS (SELECT digest, min(id) AS id FROM bd GROUP BY digest),
    cross_dups AS (
        SELECT c.id, i.matches_id FROM canon c JOIN idx i USING (digest)
    ),
    within_dups AS (
        SELECT b.id, c.id AS matches_id FROM bd b JOIN canon c USING (digest)
        WHERE b.id != c.id
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(matches_id AS BIGINT) AS matches_id
    FROM (SELECT * FROM cross_dups UNION ALL SELECT * FROM within_dups)
    """,
)
def q_dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT dedup against a persisted digest index
    (operators/dedup.py:exact_dedup_against): corpus = doc_id < 400
    (indexed); the batch carries novel docs (+100000), normalization
    variants of every 10th corpus doc (+200000, upper+trailing spaces —
    cross-index dups), and exact copies of some novel docs (+300000 —
    within-batch dups collapsing onto the batch canonical). One digest
    equi-join; cost tracks the batch, never the corpus. Hash-verified:
    the oracle mirrors the digest/canonicalization algebra in SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    index = D.content_digests(corpus, "text", "doc_id")
    batch = (
        docs.filter(F.col("doc_id") >= 400)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        .unionByName(
            corpus.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.upper("text"), F.lit("  ")).alias("text"),
            )
        )
        .unionByName(
            docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") % 7 == 0))
            .select((F.col("doc_id") + 300000).alias("doc_id"), "text")
        )
    )
    _novel, dups = D.exact_dedup_against(batch, index, "text", "doc_id")
    return dups.select(F.col("id"), F.col("matches_id"))


@query("q_dedup_incremental", oracle=None, tags=("approx",))
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingest (operators/dedup.py:incremental_near_dedup):
    documents with doc_id < 400 are the indexed historical corpus
    (persisted lsh_banded rows); the new batch = the remaining docs
    (novel, ids offset +100000) plus planted near-dups of every 10th
    corpus doc (ids offset +200000, one token appended). Candidate
    generation probes the index — an equi-join scaling with the BATCH,
    never the corpus — and exact verification re-shingles only candidate
    index docs. Returns the verified cross/within dup pairs; the planted
    docs must all pair with their corpus originals (recall floor is
    pytest-pinned; rows-only here because minhash is seed-dependent)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    novel = docs.filter(F.col("doc_id") >= 400).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = corpus.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing audit token")).alias("text"),
    )
    new_batch = novel.unionByName(near)
    index = D.lsh_banded(
        D.minhash_signatures(D.word_shingles(corpus, "text", "doc_id"))
    )
    pairs, _novel_ids, _banded = D.incremental_near_dedup(
        new_batch, corpus, index, "text", "doc_id", min_jaccard=0.5
    )
    return pairs.orderBy("id_a", "id_b")


@query(
    "q_dedup_clusters_star",
    oracle=f"""
    WITH RECURSIVE {twins.shingle_pairs(_BOUND)},{twins.closure(_BOUND)}
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id
    FROM comp
    """,
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_clusters with the driver-local union-find gate disabled
    (``local_max_edges=0``): the same pairs run the distributed
    large-star/small-star loop of operators/dedup.py:connected_components,
    so this row's recursive-CTE transitive-closure oracle checks the
    loop every corpus-scale input takes, not the small-graph shortcut."""
    docs = _bounded_docs(spark, sf_dir)
    pairs = _shingle_pairs(docs).select("id_a", "id_b")
    comp = D.connected_components(pairs, docs.select("doc_id"), local_max_edges=0)
    return comp.select(F.col("id").alias("doc_id"), "cluster_id")


@query(
    "q_dedup_editdist",
    oracle="""
    WITH base AS (
        SELECT p_partkey AS id, p_name AS name FROM part WHERE p_partkey < 300
    ),
    inj AS (
        SELECT id + 100000 AS id, 'z' || substr(name, 2) AS name
        FROM base WHERE id % 7 = 0
    ),
    all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM inj)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
    FROM all_rows a JOIN all_rows b ON a.id < b.id
    WHERE levenshtein(a.name, b.name) <= 1
    """,
)
def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-dup pairs (edit distance <= 1) via FastSS deletion-
    neighborhood signatures: candidates from a plain equi-join on deletion
    signatures (complete by pigeonhole for d=1), exact levenshtein verify
    — the oracle computes the same pairs all-pairs on the bounded subset,
    the engine never forms a product. Injected 'z'-substitution variants
    (id offset 100000) guarantee planted matches."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    base = p.select(F.col("p_partkey").alias("id"), F.col("p_name").alias("name"))
    inj = base.filter(F.col("id") % 7 == 0).select(
        (F.col("id") + 100000).alias("id"),
        F.concat(F.lit("z"), F.expr("substr(name, 2)")).alias("name"),
    )
    all_rows = base.unionByName(inj)
    return D.edit_distance_pairs(all_rows, "name", "id", max_dist=1)


@query(
    "q_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {twins.shingle_pairs(_BOUND)},{twins.keep_best(_BOUND)}
    SELECT * FROM best
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy dedup: near-dup clusters keep their HIGHEST-
    QUALITY member, not the min-id one — the policy a real corpus build
    wants (the canonical copy of a boilerplate-wrapped article is the
    cleanest one, not the first-crawled one). Pipeline = the
    q_dedup_clusters fixture (n-gram Jaccard pairs -> connected
    components, hash-checked against DuckDB's recursive-CTE closure)
    composed with the q_text_quality score and a per-cluster argmax.

    100 TB design: clusters come from the same pair stream the LSH path
    emits; the argmax is one row_number window keyed on cluster_id —
    near-dup clusters are small by construction (the skew-capped
    candidate generation bounds them), so the window key never
    concentrates; ties break on (quality DESC, doc_id) for cross-engine
    determinism."""
    docs = _bounded_docs(spark, sf_dir)
    return _keep_best(_shingle_pairs(docs).select("id_a", "id_b"), docs)


@query("q_dedup_embedding_lsh", oracle=None, tags=("approx",))
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third dedup modality, end-to-end from raw text with NO external
    model: text -> feature-hashing embeddings (operators/text.py:
    attach_hash_embed) -> hyperplane-LSH near-dup pairs with exact
    cosine verify (operators/similarity.py:embedding_near_dup). At
    threshold 0.95 this recovers exactly the 25 planted near-dup pairs
    the MinHash-LSH path (q_dedup_near) finds at sf0.01 — the two
    pipelines agree through completely different signatures (token-set
    shingles vs signed bucket counts).

    Rows-only by declaration (LSH candidate recall is probabilistic —
    the planted floor lives in tests/test_embedding_lsh.py); the
    verify stage makes precision exact. Scale shape: embedding at scan
    speed, candidates paired inside buckets across 8 tables with the
    shared hot-bucket cap, one candidate-sized cosine verify — never
    all-pairs."""
    from kafka_map_reduce_spark.operators.similarity import embedding_near_dup

    d = fan_out_scan(load_table(spark, sf_dir, "documents"), key=("doc_id",))
    return embedding_near_dup(
        _lsh_embed(d), dim=32, threshold=0.95, buckets_col="__buckets"
    ).orderBy("id_a", "id_b")


@query("q_dedup_embedding_lsh_capped", oracle=None, tags=("approx",))
def q_dedup_embedding_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_embedding_lsh with the 100 TB cap configuration
    (max_bucket_size=16) — completing the capped-variant symmetry with
    q_dedup_near_capped / q_dedup_simhash_capped. The cap is the
    DENSITY governor, measured at sf10 (500k docs): candidates are
    genuine near-threshold neighbors that longer signatures cannot
    separate (b=20/T=10 and b=22/T=11 measured, only 20-35% fewer
    candidates), while cap=16 runs 22.1 s vs 57.7 s at the default 64
    (2.6x) by routing dense template clusters to exact dedup — the same
    policy the text-LSH hot-band cap implements (SURVEY §6 r6
    scale-spot analysis)."""
    from kafka_map_reduce_spark.operators.similarity import embedding_near_dup

    d = fan_out_scan(load_table(spark, sf_dir, "documents"), key=("doc_id",))
    return embedding_near_dup(
        _lsh_embed(d),
        dim=32,
        threshold=0.95,
        max_bucket_size=16,
        buckets_col="__buckets",
    ).orderBy("id_a", "id_b")


@query("q_dedup_semantic", oracle=None, tags=("approx",))
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth dedup modality — SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): k-means clusters bound the candidate set, exact
    cosine WITHIN clusters (operators/similarity.py:semantic_dedup).
    Fills the threshold band the hyperplane-LSH modality structurally
    cannot reach: LSH collision probability collapses below ~0.95
    cosine, while the paraphrase/boilerplate-variant band lives at
    0.7-0.9 — here threshold 0.85 over the embeddings table, where
    bucketed LSH at the same threshold would need impractically many
    tables for usable recall.

    Input: the same model-free text -> hash-embedding face as the LSH
    modality (the synthetic embeddings table is near-dup-free by
    construction — max pairwise cosine 0.51 — so it cannot witness any
    dedup threshold), making the two vector modalities directly
    comparable: same vectors, different candidate generators. Pairs at
    0.95+ essentially always co-assign (a near-identical pair splits
    across a cluster boundary only in the epsilon-ball edge case), so
    the LSH path's finds are in practice a subset of this 0.85 band —
    an empirical relationship, not an invariant.

    Rows-only by declaration (iterative k-means training, like every
    trained-model operator); planted-near-dup recall, the
    cluster-bounded candidate count, and the hot-cluster cap are
    pytest-pinned in tests/test_semantic_dedup.py. Scale shape:
    broadcast-centroid assignment (shuffle-free), ONE shuffle on
    cluster id, one unit-vector matmul per cluster; O(sum c_i^2) stays
    ~N*c when k scales with the corpus (the paper's regime), and
    over-full clusters drop to exact dedup via max_cluster_size — a
    size check inside the per-cluster kernel, the same governor as
    every other modality's cap."""
    # fanned out (r17): the eager emb checkpoint otherwise freezes the
    # one-row-group scan's single partition into every consumer
    # (hash-embed, training collect, assignment); no-op at corpus scale.
    # The fused face (r18) is the md5 Arrow kernel (bit-identical to
    # the JVM fold, tests/test_operators.py; the r9-measured 257.9 s
    # linear wall at 5M docs drops to 27.0 s, SCALE_SPOT_r10).
    d = fan_out_scan(load_table(spark, sf_dir, "documents"), key=("doc_id",))
    return _semantic_pairs(_unit_embed(d), threshold=0.85).orderBy("id_a", "id_b")


@query("q_dedup_semantic_ingest", oracle=None, tags=("approx", "incremental"))
def q_dedup_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest for the SemDeDup modality (operators/
    similarity.py:semantic_dedup_ingest) — the symmetry partner of
    q_dedup_incremental (LSH band index), q_dedup_exact_incremental
    (digest index) and the IVFADC append path: dedup state persists as
    (frozen k-means centroids, assigned unit-vector index); each batch
    assigns against the frozen model, semi-joins the index down to the
    clusters it touches, and emits exactly the pairs a full rebuild
    would ADD (append-vs-rebuild parity pytest-pinned). Cost tracks
    batch x cluster, never the corpus. Every 10th doc plays the
    arriving batch; the rest are the standing corpus whose index the
    build step materializes with the same frozen model (ingest against
    an empty index IS the build — one code path, no drift)."""
    from kafka_map_reduce_spark.operators.similarity import (
        _hash_mod_filter,
        kmeans_fit,
        semantic_dedup_ingest,
        semantic_model_params,
    )

    # fanned out (r17): same single-partition-checkpoint freeze as
    # q_dedup_semantic; no-op at corpus scale. Both ingest calls below
    # skip their Arrow normalize stage via unit_col.
    emb = _unit_embed(
        fan_out_scan(load_table(spark, sf_dir, "documents"), key=("doc_id",))
    )
    old = emb.filter(F.col("vec_id") % 10 != 0)
    new = emb.filter(F.col("vec_id") % 10 == 0)
    k, mod, cap = semantic_model_params(old.count())
    cents = kmeans_fit(
        _hash_mod_filter(old, "vec_id", mod), k, iters=3,
        vec_col="embedding", id_col="vec_id", init="spread",
    ).localCheckpoint(eager=True)
    empty = spark.createDataFrame([], "id long, bkt int, __vn array<double>")
    _, index = semantic_dedup_ingest(
        old, cents, empty, threshold=0.85, max_cluster_size=cap,
        unit_col="__unit",
    )
    index = index.localCheckpoint(eager=True)
    pairs, _ = semantic_dedup_ingest(
        new, cents, index, threshold=0.85, max_cluster_size=cap,
        unit_col="__unit",
    )
    return pairs.orderBy("id_a", "id_b")


@query(
    "q_dedup_semantic_keep_best",
    oracle=f"""
    WITH RECURSIVE {twins.hash_embed(_BOUND)},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM emb a JOIN emb b ON a.doc_id < b.doc_id
      WHERE list_sum(list_transform(range(1, 33), i -> a.e[i] * b.e[i]))
            >= 0.95
    ),{twins.keep_best(_BOUND)}
    SELECT * FROM best
    """,
    tags=("retention", "semantic"),
)
def q_dedup_semantic_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention composition for the SEMANTIC modality (the r7 verdict's
    #6): SemDeDup pairs -> connected components -> per-cluster
    keep-best-quality — the paper's actual deliverable is "which docs to
    keep/drop", not a pair list (Abbas et al. 2023, arXiv:2303.09540 §3).
    Same retention algebra as q_dedup_keep_best (quality argmax, ties on
    (quality DESC, doc_id)), but the pair stream comes from
    operators/similarity.py:semantic_dedup instead of n-gram Jaccard —
    the composition point is that every pair MODALITY feeds the same
    clustering + retention tail.

    Oracle design: the DuckDB side replays the md5 hash-embedding
    bit-for-bit (the q_text_hash_embed replay), takes EXACT cosine>=0.95
    pairs over the bounded subset, and closes them with the recursive
    CTE. That hash-checks the Spark path only where cluster-bounded
    candidates are COMPLETE: measured on this fixture (doc_id<200,
    k=8, spread init) the semantic pair set EQUALS the exact pair set at
    sf0.001/sf0.01/sf0.1 with wide threshold margins (closest in-pair
    cosine 0.9806/0.9903/none vs closest out-pair 0.9411/0.9497/0.9390),
    while at bound>=500 a boundary split already loses one 0.9511 pair —
    exactly the epsilon-ball miss the paper accepts, which is why the
    0.85-band production form (q_dedup_semantic) stays rows-only and the
    oracle pins THIS configuration.

    100 TB design: pairs arrive from the cluster-bounded generator
    (never all-pairs — the bounded all-pairs here is oracle-fixture
    only, _bounded_subset enforces the cap); components are
    large-star/small-star contraction (O(log n) rounds of keyed
    shuffles); the keep-best argmax is
    one row_number window on cluster_id, and semantic clusters are
    bounded by max_cluster_size so the window key cannot concentrate."""
    docs = _bounded_docs(spark, sf_dir)
    # the Arrow md5 face: bit-identical to the JVM md5 fold the DuckDB
    # oracle above replays (pinned, tests/test_operators.py), so the
    # hash row cannot move; the fused unit vector leaves sims unchanged
    # (re-proved at sf0.01)
    pairs = _semantic_pairs(_unit_embed(docs), threshold=0.95)
    return _keep_best(pairs.select("id_a", "id_b"), docs)

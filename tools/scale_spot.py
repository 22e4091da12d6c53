"""One-off sf10 scale spot-check: 100x the driver's bench scale.

The per-round bench (bench.py) proves sublinearity at sf1 (10x). This
tool answers the next decade: it replicates the .bench_sf1 tables 10x
more (500k documents, disjoint id spaces, replica tokens re-prefixed so
no shingles are shared across replicas — same construction as
bench.py's ensure_scaleup_tables) and runs the shuffle-bound corpus
plans once at sf10 vs sf1 in the same session.

Not part of the per-round driver bench (it would triple its wall time);
run manually, paste the JSON into the commit/SURVEY. Usage:

    python tools/scale_spot.py [n_runs] [--sections=a,b,...]

Heap note (r15, from the r14 heap-cliff probe — tool retired r17,
result pinned in SCALE_SPOT_r14
heap_cliff_r14): this tool runs MULTIPLE corpus points in one process,
and local-mode spark.stop() does not release the gateway JVM — heap
state accumulates across points, which is exactly the shape that
manufactured the phantom r13 "48 GiB cliff". The recorded rule is one
JVM per corpus point (8 g then suffices); since this tool cannot
subprocess-isolate its points without losing the within-session decade
comparability its ratios are built on, main() instead defaults the
driver heap to the 48 g multi-point belt (SPARK_GRAFT_DRIVER_MEM still
overrides). An OOM here is a harness artifact until reproduced in a
process-isolated single-point run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

REPLICAS = 10
_ID_OFFSET = 100_000_000  # sf1 ids reach ~9e7; replicas live in 1e8 decades

QUERIES = [
    "q_dedup_near_capped",
    "q_dedup_simhash_capped",
    "q_pack_sequences",
    "q_text_boilerplate",
    "q_doc_ids",
    "q_pipeline_e2e",
    # added r15 (r14 verdict item #5): the embedding-LSH family's
    # DECLARED 100 TB configuration enters the recurring battery
    # permanently — the r14 min-of-3 recheck measured 2.63x per 10x
    # capped vs 12.24x uncapped (SCALE_SPOT_r14), so tracking only the
    # uncapped fixture-density outlier would miss the configuration the
    # scale claim actually rests on
    "q_dedup_embedding_lsh_capped",
    "q_corpus_report",
    # added r7: the ANN family's 100x witness (the one Tier C pillar
    # without one) — IVFADC's nprobe bucket restriction and SQ8's
    # full-scan-but-compressed contract, each with a candidate audit
    "q_sim_ivfpq",
    "q_sim_sq8",
    # added r7: the SemDeDup modality (k scales with the corpus to hold
    # cluster size ~250, so the within-cluster quadratic term is ~N*250)
    "q_dedup_semantic",
]

# Fixture-density sidebar (r16, executing the r15 verdict item #6):
# the UNCAPPED embedding-LSH row left the headline battery table. Its
# decade ratio is dominated by the synthetic corpus's bucket-density
# growth (6.9-13.1x per 10x across rounds, vs 2.6-3.1x for the capped
# twin — SCALE_SPOT_r14/r15), and its r15 reading of 6.94 fell BELOW
# its own historical band on pure host/page-cache variance, adding
# band noise every round while witnessing nothing the capped
# configuration (the declared 100 TB path, contract-pinned above)
# doesn't. It still runs each battery, recorded under
# ``uncapped_sidebar`` with its documented story, so the
# fixture-density diagnosis keeps a live number without polluting the
# headline ratio table.
SIDEBAR_QUERIES = [
    "q_dedup_embedding_lsh",
]


def ensure_sf10(spark, sf1_dir: str, out_dir: str) -> None:
    from pyspark.sql import functions as F

    # v2: embeddings replicated too (r7, the ANN scale rows), each
    # replica deterministically perturbed so replicas are near but not
    # bit-identical neighbors. sf1 ids reach ~9e7 and replica i lives
    # in decade i*1e8, so int64 ids stay collision-free.
    marker = os.path.join(out_dir, f"_REPLICAS_{REPLICAS}_v2_OK")
    if os.path.exists(marker):
        return
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)

    def replicate(name: str, id_cols: list[str], text_col: str | None) -> None:
        base = spark.read.parquet(os.path.join(sf1_dir, f"{name}.parquet"))
        parts = []
        for i in range(REPLICAS):
            r = base
            for c in id_cols:
                r = r.withColumn(c, F.col(c) + F.lit(i * _ID_OFFSET))
            if text_col and i > 0:
                # prefix every token again (s<i>): sf10 replicas share no
                # shingles with each other or with the sf1 originals, so
                # the near-dup structure is sf1's, 10 times over
                r = r.withColumn(
                    text_col,
                    F.array_join(
                        F.transform(
                            F.split(F.col(text_col), " "),
                            lambda w: F.concat(F.lit(f"s{i}"), w),
                        ),
                        " ",
                    ),
                )
                if "n_chars" in r.columns:
                    r = r.withColumn("n_chars", F.length(F.col(text_col)))
            if "embedding" in r.columns and i > 0:
                # deterministic per-replica perturbation (bounded +-0.05):
                # keeps the corpus distribution (same coarse structure)
                # without 10 bit-identical copies of every vector, which
                # would degenerate every ANN tie-break
                r = r.withColumn(
                    "embedding",
                    F.transform(
                        F.col("embedding"),
                        lambda x, j: x
                        + F.lit(0.05)
                        * F.sin(
                            F.col(id_cols[0]).cast("double") * F.lit(7.0)
                            + j.cast("double") * F.lit(13.0)
                            + F.lit(float(i) * 29.0)
                        ),
                    ),
                )
            parts.append(r)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))

    replicate("documents", ["doc_id"], "text")
    replicate("events", ["event_id", "user_id"], None)
    replicate("embeddings", ["vec_id"], None)
    with open(marker, "w") as f:
        f.write("ok\n")


def ann_candidate_audit(spark, data_dir: str) -> dict:
    """The measured half of the 'nprobe restricts the scan' claim: for
    the q_sim_ivfpq operating point (n_clusters=8, nprobe=2, probes =
    vec_id < 20), how many code rows does each probe actually scan?
    Computed from the index itself — bucket histogram + each probe's
    nprobe-nearest coarse buckets (8 centroids x 20 probes: driver-side
    numpy is the honest tool-code shape). SQ8 is full-scan by design,
    so its 'candidates' ARE the corpus — reported for contrast."""
    import numpy as np
    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators import similarity as S
    from kafka_map_reduce_spark.sources import load_table

    e = load_table(spark, data_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 20)
    probes = e.filter(F.col("vec_id") < 20)
    coarse, _books, encoded = S.ivfpq_index(
        corpus, n_clusters=8, m=8, n_codes=16, iters=3, train_sample_n=2048
    )
    sizes = {r["bkt"]: r["n"] for r in
             encoded.groupBy("bkt").agg(F.count(F.lit(1)).alias("n")).collect()}
    cents = sorted(
        (r["cluster_id"], np.asarray(r["centroid"], dtype=float))
        for r in coarse.collect()
    )
    n_corpus = sum(sizes.values())
    cands = []
    for r in probes.select("vec_id", "embedding").collect():
        v = np.asarray(r["embedding"], dtype=float)
        d = sorted((float(np.sum((v - c) ** 2)), cid) for cid, c in cents)
        cands.append(sum(sizes.get(cid, 0) for _, cid in d[:2]))
    return {
        "corpus_vectors": n_corpus,
        "ivfpq_avg_candidates_per_probe": round(sum(cands) / len(cands), 1),
        "ivfpq_max_candidates_per_probe": max(cands),
        "ivfpq_scan_fraction": round(sum(cands) / len(cands) / n_corpus, 4),
        "sq8_candidates_per_probe": n_corpus,  # full quantized scan by design
        "bucket_sizes": {int(k): int(v) for k, v in sorted(sizes.items())},
    }


def _hash_embed_split(spark, data_dir: str):
    """(batch, standing) unit-vector tables for the semantic audits: the
    batch is the SAME absolute set at every scale — replica-0 docs with
    doc_id % 10 == 0 (replicas live in 1e8 decades, so the filter picks
    exactly the sf1 originals at sf10) — while the standing corpus grows
    with the data. That is the shape of the flatness claim: ingest cost
    must track the fixed batch, not the growing index."""
    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators.text import attach_hash_embed_arrow
    from kafka_map_reduce_spark.sources import load_table

    d = load_table(spark, data_dir, "documents")
    # r10: the Arrow md5 face — BIT-IDENTICAL vectors (pytest-pinned),
    # so every prior round's ingest numbers stay comparable while the
    # embed setup stops dominating the audit at the 100x scale
    emb = attach_hash_embed_arrow(d, "text", "embedding", dim=32).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    is_batch = (F.col("vec_id") < _ID_OFFSET) & (F.col("vec_id") % 10 == 0)
    batch = emb.filter(is_batch).localCheckpoint(eager=True)
    standing = emb.filter(~is_batch).localCheckpoint(eager=True)
    return batch, standing


def semantic_ingest_audit(spark, data_dir: str, n_runs: int) -> dict:
    """The r7 verdict's one unmeasured incremental path: a fixed-size
    batch ingested against a standing SemDeDup index (frozen centroids +
    assigned unit vectors). Reports ingest seconds (min-of-n), the
    one-time standing-index build seconds for contrast, and the
    cluster-locality audit (clusters the batch touches / total) plus the
    verify-candidate total — the quantity that must track batch size."""
    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators.similarity import (
        _hash_mod_filter,
        kmeans_fit,
        semantic_dedup_ingest,
        semantic_model_params,
    )

    batch, standing = _hash_embed_split(spark, data_dir)
    n = standing.count()
    b = batch.count()
    # production sizing policy (semantic_model_params: ~250/cluster up
    # to the 2^15 k-cap, governor scales with expected cluster size)
    k, mod, cap = semantic_model_params(n)
    train = _hash_mod_filter(standing, "vec_id", mod)
    t0 = time.time()
    cents = kmeans_fit(
        train, k, iters=3, vec_col="embedding", id_col="vec_id", init="spread"
    ).localCheckpoint(eager=True)
    train_s = time.time() - t0
    empty = spark.createDataFrame([], "id long, bkt int, __vn array<double>")
    t0 = time.time()
    _, index = semantic_dedup_ingest(
        standing, cents, empty, threshold=0.85, max_cluster_size=cap
    )
    index = index.localCheckpoint(eager=True)
    build_s = time.time() - t0

    best = None
    n_pairs = None
    for _ in range(n_runs):
        t0 = time.time()
        pairs, new_rows = semantic_dedup_ingest(
            batch, cents, index, threshold=0.85, max_cluster_size=cap
        )
        pairs.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
        if n_pairs is None:
            n_pairs = pairs.count()

    # cluster-locality + candidate audit: how much of the index does the
    # batch actually pull into the per-cluster rectangular matmul?
    idx_hist = index.groupBy("bkt").agg(F.count(F.lit(1)).alias("n_idx"))
    bat_hist = (
        semantic_dedup_ingest(
            batch, cents, empty, threshold=0.85, max_cluster_size=cap
        )[1]
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n_bat"))
    )
    joined = bat_hist.join(idx_hist, "bkt", "left").fillna(0).collect()
    touched_n = len(joined)
    index_rows_touched = sum(r["n_idx"] for r in joined)
    cross_candidates = sum(r["n_bat"] * r["n_idx"] for r in joined)
    within_candidates = sum(r["n_bat"] * (r["n_bat"] - 1) // 2 for r in joined)
    return {
        "standing_index_rows": n,
        "batch_rows": b,
        "k_clusters": k,
        "kmeans_train_sec": round(train_s, 3),
        "standing_index_build_sec": round(build_s, 3),
        "ingest_sec": round(best, 3),
        "ingest_pairs": n_pairs,
        "clusters_touched": touched_n,
        "clusters_total": k,
        "touched_fraction": round(touched_n / k, 4),
        "index_rows_in_touched_clusters": index_rows_touched,
        "index_touched_fraction": round(index_rows_touched / n, 4),
        "verify_candidates_cross": cross_candidates,
        "verify_candidates_within_batch": within_candidates,
    }


def semantic_k_sweep(spark, data_dir: str, cluster_targets=(100, 500)) -> dict:
    """The sigma c_i^2 ~ N*c claim as the k knob moves (r7 verdict #7):
    run the full semantic_dedup at k = N/c for two target cluster sizes
    and report seconds + the realized within-cluster candidate totals.
    Single run per point (the claim is about the candidate count scaling,
    not the last 10% of timer noise)."""
    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators.similarity import semantic_dedup

    from kafka_map_reduce_spark.operators.text import attach_hash_embed
    from kafka_map_reduce_spark.sources import load_table

    d = load_table(spark, data_dir, "documents")
    emb = (
        attach_hash_embed(d, "text", "embedding", dim=32)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    n = emb.count()
    out = {"n_vectors": n}
    for c in cluster_targets:
        k = max(8, n // c)
        t0 = time.time()
        pairs = semantic_dedup(
            emb,
            threshold=0.85,
            n_clusters=k,
            iters=3,
            max_cluster_size=2000,
            init="spread",
            train_sample_mod=max(1, n // (50 * k)),
        )
        n_pairs = pairs.count()
        dt = time.time() - t0
        # realized within-cluster candidate total sigma c_i*(c_i-1)/2:
        # replay the deterministic train+assign (same sample, same init)
        # and histogram the buckets; clusters over the cap contribute 0
        # (they route to exact dedup, same as inside semantic_dedup)
        from kafka_map_reduce_spark.operators.similarity import (
            _hash_mod_filter,
            kmeans_fit,
            semantic_dedup_ingest,
        )

        train = _hash_mod_filter(emb, "vec_id", max(1, n // (50 * k)))
        cents = kmeans_fit(
            train, k, iters=3, vec_col="embedding", id_col="vec_id",
            init="spread",
        ).localCheckpoint(eager=True)
        empty = spark.createDataFrame([], "id long, bkt int, __vn array<double>")
        hist = (
            semantic_dedup_ingest(
                emb, cents, empty, threshold=0.85, max_cluster_size=2000
            )[1]
            .groupBy("bkt")
            .agg(F.count(F.lit(1)).alias("cn"))
            .collect()
        )
        sizes = [r["cn"] for r in hist]
        realized = sum(s * (s - 1) // 2 for s in sizes if s <= 2000)
        capped_out = sum(s for s in sizes if s > 2000)
        out[f"c{c}"] = {
            "k_clusters": k,
            "sec": round(dt, 3),
            "pairs": n_pairs,
            "realized_candidates": realized,
            "expected_candidates_n_times_c_over_2": n * c // 2,
            "max_cluster": max(sizes) if sizes else 0,
            "rows_capped_to_exact": capped_out,
        }
    return out


def keep_best_tail_audit(spark, data_dir: str, n_runs: int) -> dict:
    """The r8 verdict's #6: q_dedup_semantic_keep_best's PAIR stage is
    measured (4.29x at 10x data) but its retention TAIL — connected
    components + the per-cluster keep-best window — was not. This
    isolates the tail: pairs are generated once by the production
    semantic path (threshold 0.85, k = N/250, same knobs as
    q_dedup_semantic) and checkpointed; the timed region is ONLY
    components (large-star/small-star, rounds recorded — the
    O(log n) witness) + quality join + the cluster_id window +
    keep-best filter. Cluster-size caps bound the window key, so the
    tail should track the pair/node count, not super-linearly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kafka_map_reduce_spark.operators import dedup as D
    from kafka_map_reduce_spark.operators.similarity import semantic_dedup
    from kafka_map_reduce_spark.operators.text import (
        attach_hash_embed,
        quality_score,
    )
    from kafka_map_reduce_spark.sources import load_table

    d = load_table(spark, data_dir, "documents").localCheckpoint(eager=True)
    emb = (
        attach_hash_embed(d, "text", "embedding", dim=32)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    n = emb.count()
    from kafka_map_reduce_spark.operators.similarity import (
        semantic_model_params,
    )

    k, mod, cap = semantic_model_params(n)
    t0 = time.time()
    pairs = (
        semantic_dedup(
            emb,
            threshold=0.85,
            n_clusters=k,
            iters=3,
            max_cluster_size=cap,
            init="spread",
            train_sample_mod=mod,
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_pairs = pairs.count()
    pair_s = time.time() - t0

    nodes = d.select("doc_id")
    q = d.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    ).localCheckpoint(eager=True)
    best = float("inf")
    stats: dict = {}
    comp = None
    for _ in range(n_runs):
        t0 = time.time()
        stats = {}
        comp = D.connected_components(pairs, nodes, stats=stats)
        w = Window.partitionBy("cluster_id")
        keep = (
            comp.select(F.col("id").alias("doc_id"), "cluster_id")
            .join(q, "doc_id")
            .withColumn("n_members", F.count(F.lit(1)).over(w))
            .withColumn(
                "rk",
                F.row_number().over(
                    w.orderBy(F.desc("quality"), F.col("doc_id"))
                ),
            )
            .filter(F.col("rk") == 1)
        )
        keep.write.mode("overwrite").format("noop").save()
        best = min(best, time.time() - t0)
    hist = (
        comp.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cn"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.max("cn").alias("max_cluster"),
        )
        .collect()[0]
    )
    return {
        "n_docs": n,
        "n_pairs": n_pairs,
        "pair_stage_sec": round(pair_s, 3),
        "tail_sec": round(best, 3),
        "rounds": stats.get("rounds"),
        "n_clusters": int(hist["n_clusters"]),
        "max_cluster": int(hist["max_cluster"]),
    }


def bpe_encode_audit(spark, sf1_dir: str, data_dir: str, n_runs: int) -> dict:
    """The r8 verdict's #7: q_text_bpe's TRAINER is scale-correct since
    r7 (one corpus read + driver-local merge loop over the Zipf-bounded
    word table), but the Arrow greedy ENCODER had no sf10 row. The
    merge table is trained ONCE on sf1 and frozen (the production
    setup — the tokenizer must not drift with the batch), then the
    encode pass runs over ``data_dir``'s documents, forced end-to-end
    by a total-token aggregate. Shuffle-free by construction (one
    mapInPandas projection + a final 1-row agg), so the 10x ratio
    should be ~linear in corpus bytes."""
    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators.bpe import bpe_encode, bpe_train
    from kafka_map_reduce_spark.sources import load_table

    train_docs = load_table(spark, sf1_dir, "documents")
    merges = bpe_train(train_docs, "text", n_merges=30).localCheckpoint(
        eager=True
    )
    d = load_table(spark, data_dir, "documents")
    n_docs = d.count()
    best = float("inf")
    total_tokens = None
    for _ in range(n_runs):
        t0 = time.time()
        row = (
            bpe_encode(d, merges, "text", "bpe_tokens")
            .agg(F.sum(F.size("bpe_tokens")).alias("t"))
            .collect()[0]
        )
        best = min(best, time.time() - t0)
        total_tokens = int(row["t"])
    return {
        "n_docs": n_docs,
        "n_merges": 30,
        "total_bpe_tokens": total_tokens,
        "encode_sec": round(best, 3),
        "tokens_per_sec": int(total_tokens / best) if best > 0 else None,
    }


def watermark_dedup_audit(spark, data_dir: str,
                          rows_per_batch: int = 1_000_000) -> dict:
    """r9 verdict item #7: the watermark-BOUNDED form of streaming dedup
    at the scale where unbounded dropDuplicates cliffs (SCALE_SPOT_r09
    events100: q_stream_dedup 53.1 s / 32.9x last decade at 110M rows —
    the one-box state > executor-memory spill). This measures the
    engine's production form for unbounded streams, which it already
    implements (the q_stream_watermark idiom): the redelivered stream
    (q_stream_dedup's every-10th-duplicated contract) replays as
    ts-range micro-batches of ~constant row count — the production
    shape, where batch size tracks arrival rate x trigger interval, not
    stream length — through ``dropDuplicatesWithinWatermark`` on a
    30-minute event-time horizon. Duplicates carry the ORIGINAL ts, so
    every one falls inside the horizon and is dropped exactly (emitted
    rows must equal the pre-duplication count); the watermark evicts
    state each batch, so state rows track horizon x rate + batch, never
    the stream. Reports wall seconds, row-count exactness, batch count,
    and the MAX streaming state rows across the run (the boundedness
    witness vs the unbounded form's 110M)."""
    import shutil
    import time

    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.sources import load_table
    from kafka_map_reduce_spark.streaming.pipeline import drain_query

    wd = os.path.join(REPO, ".scale_scratch", "wm_dedup")
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)

    ev = load_table(spark, data_dir, "events").select("event_id", "ts")
    n_distinct = ev.count()
    redelivered = ev.unionByName(ev.filter(F.col("event_id") % 10 == 0))
    # counted, not derived (ADVICE r10): n_distinct + n_distinct // 10
    # only equals this when event_ids are contiguous from 0 — the
    # replica-built 10x/100x corpora keep that true today, but the
    # max_state_rows < n_input_rows bound should not depend on it
    n_total = redelivered.count()
    n_files = max(2, n_total // rows_per_batch)
    src = os.path.join(wd, "src")
    redelivered.repartitionByRange(n_files, "ts").write.parquet(src)

    # Pin the REPLAY ORDER to the ts-range order: FileStreamSource
    # admits files oldest-modification-first, but parallel write tasks
    # finish in arbitrary order, so without this the watermark can jump
    # ahead on an out-of-order range and drop whole earlier ranges as
    # late (observed: 56% of rows dropped at sf10). part-NNNNN names
    # sort with the range partitioning, so stamping strictly increasing
    # mtimes in name order makes arrival order = event-time order — the
    # in-order replay a real log source (Kafka per-partition order)
    # provides by construction.
    t_base = time.time() - 10 * len(os.listdir(src)) - 60
    for i, name in enumerate(sorted(os.listdir(src))):
        if name.startswith("part-"):
            p = os.path.join(src, name)
            os.utime(p, (t_base + i, t_base + i))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out_path = os.path.join(wd, "out")
    # recentProgress keeps only the newest numRecentProgressUpdates
    # entries (default 100) — at sf100 the run spans 120+ one-file
    # micro-batches, so without raising it n_batches_observed
    # undercounts and an EARLY max_state_rows peak silently drops out
    # of the max (ADVICE r10). Sized to the known batch count; restored
    # after the run so the session default isn't mutated for callers.
    prog_key = "spark.sql.streaming.numRecentProgressUpdates"
    prog_prev = spark.conf.get(prog_key, "100")
    spark.conf.set(prog_key, str(n_files + 64))
    try:
        t0 = time.time()
        q = (
            deduped.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(wd, "ckpt"))
            .start(out_path)
        )
        drain_query(q, 1800.0)
        wall = round(time.time() - t0, 1)
        max_state = 0
        n_batches = 0
        for p in q.recentProgress:
            n_batches += 1
            for so in (p.get("stateOperators") or []):
                max_state = max(max_state, so.get("numRowsTotal", 0))
    finally:
        # finally, not success-path (r11 review): a drain_query timeout
        # would otherwise leave the raised retention mutating every
        # later audit section in the same session
        spark.conf.set(prog_key, prog_prev)
    got = spark.read.parquet(out_path).count()
    return {
        "wall_sec": wall,
        "n_input_rows": n_total,
        "n_emitted_rows": got,
        "n_expected_rows": n_distinct,
        "exact": got == n_distinct,
        "n_batches_observed": n_batches,
        "max_state_rows": max_state,
    }


def maintenance_audit(spark, data_dir: str) -> dict:
    """r9 pre-promotion scale rows for the five r10 maintenance/layout
    operators (queries/promotions_r10.py registers them r10; this is
    their 100x witness, gathered BEFORE the driver rows exist so the
    registration lands with scale evidence, not just correctness).

    Each operator is timed on its core with the scattered-input setup
    write reported separately; the scatter keeps ROWS-PER-FILE constant
    across scales (the micro-batch-sink pathology it models — 10x data
    means 10x files, not 10x-fatter files). Single run per point: the
    claim is the sf10/sf1 ratio, not the last 10% of timer noise.

    What each row must show at 10x data:
      - compact / zorder: ~linear (they rewrite the slice; one
        range-repartition exchange each);
      - skipping index build: tracks FILE COUNT (footer metadata pass),
        and pruned_read's files_read fraction stays ~constant (the
        clustered value range splits across 10x more files). NOTE the
        absolute pruned-vs-full times invert at this toy scale: the
        full scan of a few-hundred-MB table is I/O-trivial while the
        pruned path pays per-file open overhead on 256 KiB files — the
        scale claim is the constant read FRACTION (what survives to
        100 TB, where a 0.28x scan is the win), not the absolute time;
      - zorder trailing-key skip fraction: ~flat (the Morton box claim
        — file bounding boxes stay small in BOTH dims at any scale);
      - shards: ~linear (two-phase rank, partitionBy write);
      - line-index ingest: per-batch cost tracks the batch; compact and
        score ~linear."""
    import shutil

    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators.dedup import (
        append_line_counts,
        boilerplate_against,
        compact_line_index,
        line_hashes,
    )
    from kafka_map_reduce_spark.operators.maintenance import (
        cluster_parquet,
        zorder_parquet,
    )
    from kafka_map_reduce_spark.operators.shards import write_shards
    from kafka_map_reduce_spark.operators.skipping import (
        collect_file_stats,
        pruned_read,
    )
    from kafka_map_reduce_spark.sources import load_table

    scratch_root = os.path.join(REPO, ".scale_scratch")

    def scratch(name: str) -> str:
        p = os.path.join(scratch_root, name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    out: dict = {}
    docs = load_table(spark, data_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    n_docs = docs.count()
    ev = load_table(spark, data_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    n_ev = ev.count()

    # -- compaction / sort-clustering: 64 files per 50k docs (the sf1
    # promotion-query layout), held proportional so files scale with data
    path = scratch("m_compact")
    n_files = max(8, round(n_docs / 781))
    t0 = time.time()
    docs.repartition(n_files).write.mode("overwrite").parquet(path)
    scatter_s = time.time() - t0
    t0 = time.time()
    stats = cluster_parquet(spark, path, ["doc_id"],
                            target_file_bytes=4 * 1024 * 1024)
    out["compact_cluster"] = {
        "n_rows": n_docs,
        "files_before": stats["before"]["n_files"],
        "files_after": stats["after"]["n_files"],
        "scatter_sec": round(scatter_s, 3),
        "rewrite_sec": round(time.time() - t0, 3),
    }

    # -- Z-order rewrite + the trailing-key skip fraction at scale
    path = scratch("m_zorder")
    n_files = max(8, round(n_ev / 31250))
    t0 = time.time()
    ev.repartition(n_files).write.mode("overwrite").parquet(path)
    scatter_s = time.time() - t0
    t0 = time.time()
    zorder_parquet(spark, path, ["event_id", "user_id"],
                   target_file_bytes=1024 * 1024, bits=12)
    rewrite_s = time.time() - t0
    zstats = collect_file_stats(
        spark, path, ["event_id", "user_id"]
    ).localCheckpoint(eager=True)
    uid = zstats.filter(F.col("column") == "user_id")
    lo, hi = 0.0, 9.0  # the registered q_zorder_rewrite trailing window
    n_total = uid.count()
    n_overlap = uid.filter(
        (F.col("min_val") <= hi) & (F.col("max_val") >= lo)
    ).count()
    out["zorder_rewrite"] = {
        "n_rows": n_ev,
        "files_after": n_total,
        "scatter_sec": round(scatter_s, 3),
        "rewrite_sec": round(rewrite_s, 3),
        "trailing_key_files_overlapping": n_overlap,
        "trailing_key_skip_fraction": round(1 - n_overlap / n_total, 4)
        if n_total
        else None,
    }

    # -- data-skipping index: build cost (footer pass — must track file
    # count) and pruned vs full read over the value-clustered layout
    path = scratch("m_skip")
    ev.repartition(16).write.mode("overwrite").parquet(path)
    cluster_parquet(spark, path, ["value"], target_file_bytes=256 * 1024)
    t0 = time.time()
    sstats = collect_file_stats(spark, path, ["value"]).localCheckpoint(
        eager=True
    )
    index_s = time.time() - t0
    files_total = sstats.count()
    t0 = time.time()
    n_pruned = pruned_read(
        spark, path, "value", 50.0, 120.0, stats=sstats
    ).count()
    pruned_s = time.time() - t0
    t0 = time.time()
    n_full = (
        spark.read.parquet(path)
        .filter(F.col("value").between(50.0, 120.0))
        .count()
    )
    full_s = time.time() - t0
    files_read = sstats.filter(
        (F.col("min_val") <= 120.0) & (F.col("max_val") >= 50.0)
    ).count()
    if n_pruned != n_full:
        raise AssertionError(f"pruned {n_pruned} != full {n_full}")
    out["skipping_index"] = {
        "n_rows": n_ev,
        "files_total": files_total,
        "files_read": files_read,
        "read_fraction": round(files_read / files_total, 4),
        "index_build_sec": round(index_s, 3),
        "pruned_read_sec": round(pruned_s, 3),
        "full_scan_sec": round(full_s, 3),
    }

    # -- training-shard writer: 128-row shards in doc_id order
    path = scratch("m_shards")
    t0 = time.time()
    manifest = write_shards(
        docs.select("doc_id", "source"), path, ["doc_id"],
        rows_per_shard=128, id_col="sample_id",
    )
    n_shards = manifest.count()
    out["shard_writer"] = {
        "n_rows": n_docs,
        "n_shards": n_shards,
        "write_sec": round(time.time() - t0, 3),
    }

    # -- incremental line index: 3-batch ingest, compaction, full score
    path = scratch("m_lineidx")
    d_full = load_table(spark, data_dir, "documents")
    lines = line_hashes(d_full, "text", "doc_id", line_tokens=20).localCheckpoint(
        eager=True
    )
    t0 = time.time()
    for b in range(3):
        append_line_counts(
            lines.filter(F.col("id") % 3 == b), path, batch_id=b
        )
    append_s = time.time() - t0
    t0 = time.time()
    compact_line_index(spark, path)
    compact_s = time.time() - t0
    t0 = time.time()
    boilerplate_against(lines, spark, path).write.mode("overwrite").format(
        "noop"
    ).save()
    score_s = time.time() - t0
    out["line_index"] = {
        "n_docs": n_docs,
        "append_3_batches_sec": round(append_s, 3),
        "compact_sec": round(compact_s, 3),
        "score_sec": round(score_s, 3),
    }

    shutil.rmtree(scratch_root, ignore_errors=True)
    return out


# The recurring sf1/sf10 battery, every section of which a bare
# `python tools/scale_spot.py` runs (~30 min).
SECTIONS = (
    "queries",
    "ann",
    "semantic_ingest",
    "k_sweep",
    "keep_best_tail",
    "bpe_encode",
    "maintenance",
)


def host_probe_snapshot() -> dict:
    """One single-thread + one 32-way par sample (bench.cpu_probe /
    cpu_par_probe): the capacity readout the r17 heavy-hitters
    attribution showed the battery's 100x walls track
    (SCALE_SPOT_r17 capacity_correlation: wall/par constant at k~46-51
    across a 1.9x capacity swing, while neither the r9 nor the r16
    battery session recorded any probe). Stamped at battery start/end
    and before each heavy section so every cross-round wall comparison
    carries its own capacity context."""
    import bench

    return {
        "cpu": round(bench.cpu_probe(1)[0], 3),
        "par": round(bench.cpu_par_probe(1)[0], 3),
    }


def main() -> int:
    """Usage: python tools/scale_spot.py [n_runs] [--sections=a,b,...]

    --sections picks from SECTIONS; the bare default runs them all (the
    recurring ~30 min sf1/sf10 battery)."""
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = [a for a in sys.argv[1:] if a.startswith("--")]
    n_runs = int(args[0]) if args else 2
    sections = set(SECTIONS)
    for o in opts:
        if o.startswith("--sections="):
            sections = set(o.split("=", 1)[1].split(","))
            unknown = sections - set(SECTIONS)
            if unknown:
                print(f"unknown sections: {sorted(unknown)}", file=sys.stderr)
                return 1

    # The multi-point single-process belt (module docstring): sessions
    # built after this point inherit 48 g unless the caller overrode it.
    # Must precede the package import — session.py reads the env var at
    # import time into BUILD_CONFS.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from kafka_map_reduce_spark import get_session
    from kafka_map_reduce_spark.registry import all_queries

    spark = get_session(
        "scale-spot",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "64")),
    )
    sf1_dir = os.path.join(REPO, ".bench_sf1")
    if not os.path.exists(sf1_dir):
        print("run bench.py first to build .bench_sf1", file=sys.stderr)
        return 1
    sf10_dir = os.path.join(REPO, ".bench_sf10")
    t0 = time.time()
    ensure_sf10(spark, sf1_dir, sf10_dir)
    build_s = round(time.time() - t0, 1)

    specs = all_queries()

    def run_set(data_dir: str, names=QUERIES) -> dict:
        times = {}
        for name in names:
            best = None
            for _ in range(n_runs):
                t = time.time()
                specs[name].fn(spark, data_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t
                best = dt if best is None else min(best, dt)
            times[name] = round(best, 3)
        return times

    result = {
        "metric": "sf10_scale_spot",
        "replicas_of_sf1": REPLICAS,
        "n_docs": 500_000,
        "runs_per_query": n_runs,
        "estimator": "min",
        "table_build_sec": build_s,
        "sections": sorted(sections),
    }
    # capacity context per section (see host_probe_snapshot)
    probes = result["host_probes"] = {"battery_start": host_probe_snapshot()}
    if "queries" in sections:
        probes["queries"] = host_probe_snapshot()
        sf1_times = run_set(sf1_dir)
        sf10_times = run_set(sf10_dir)
        result["sf1"] = sf1_times
        result["sf10"] = sf10_times
        result["scaleup_ratio_10x_data"] = {
            q: round(sf10_times[q] / sf1_times[q], 2)
            for q in QUERIES
            if sf1_times[q] > 0
        }
        # fixture-density sidebar (see SIDEBAR_QUERIES): recorded, not
        # part of the headline ratio table or its historical bands
        sb1 = run_set(sf1_dir, names=SIDEBAR_QUERIES)
        sb10 = run_set(sf10_dir, names=SIDEBAR_QUERIES)
        result["uncapped_sidebar"] = {
            "note": (
                "uncapped embedding-LSH decade ratio tracks the "
                "synthetic corpus's bucket-density growth, not the "
                "declared at-scale path — the capped twin in the "
                "headline table is the 100 TB witness"
            ),
            "sf1": sb1,
            "sf10": sb10,
            "ratio_10x_data": {
                q: round(sb10[q] / sb1[q], 2)
                for q in SIDEBAR_QUERIES
                if sb1[q] > 0
            },
        }
    if "ann" in sections:
        probes["ann"] = host_probe_snapshot()
        result["ann_candidate_audit"] = {
            "sf1": ann_candidate_audit(spark, sf1_dir),
            "sf10": ann_candidate_audit(spark, sf10_dir),
        }
    # r8: the semantic-ingest flatness rows (fixed batch vs 11x
    # standing index) and the k-sizing sweep for sigma c_i^2 ~ N*c
    if "semantic_ingest" in sections:
        result["semantic_ingest"] = {
            "sf1": semantic_ingest_audit(spark, sf1_dir, n_runs),
            "sf10": semantic_ingest_audit(spark, sf10_dir, n_runs),
        }
        result["semantic_ingest"]["ingest_sec_ratio_sf10_vs_sf1"] = round(
            result["semantic_ingest"]["sf10"]["ingest_sec"]
            / result["semantic_ingest"]["sf1"]["ingest_sec"],
            2,
        )
    if "k_sweep" in sections:
        result["semantic_k_sweep"] = {
            "sf1": semantic_k_sweep(spark, sf1_dir),
            "sf10": semantic_k_sweep(spark, sf10_dir),
        }
    # r9: the keep-best retention tail (components + window, rounds
    # recorded) and the frozen-merge-table BPE encode pass
    if "keep_best_tail" in sections:
        kb = {
            "sf1": keep_best_tail_audit(spark, sf1_dir, n_runs),
            "sf10": keep_best_tail_audit(spark, sf10_dir, n_runs),
        }
        if kb["sf1"]["tail_sec"] > 0:
            kb["tail_sec_ratio_sf10_vs_sf1"] = round(
                kb["sf10"]["tail_sec"] / kb["sf1"]["tail_sec"], 2
            )
        result["keep_best_tail"] = kb
    if "bpe_encode" in sections:
        be = {
            "sf1": bpe_encode_audit(spark, sf1_dir, sf1_dir, n_runs),
            "sf10": bpe_encode_audit(spark, sf1_dir, sf10_dir, n_runs),
        }
        if be["sf1"]["encode_sec"] > 0:
            be["encode_sec_ratio_sf10_vs_sf1"] = round(
                be["sf10"]["encode_sec"] / be["sf1"]["encode_sec"], 2
            )
        result["bpe_encode"] = be
    # r9: pre-promotion scale rows for the five r10 maintenance/layout
    # operators (single run per point; ratios are the claim)
    if "maintenance" in sections:
        result["maintenance"] = {
            "sf1": maintenance_audit(spark, sf1_dir),
            "sf10": maintenance_audit(spark, sf10_dir),
        }
    probes["battery_end"] = host_probe_snapshot()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line.

Each query is fully materialized via the noop sink (forces end-to-end
execution without driver-side row transfer, so timings reflect the plan,
not collect()).

Artifact contract (fixed r6): the driver captures only the LAST 2000
bytes of output and parses the final JSON line — round 5's single line
outgrew that window and the driver recorded ``parsed: null``. The final
stdout line is therefore HEADLINE-ONLY (metric, value, queries,
shared_vs_prev, ~850 bytes); every extended section (additions timings,
pipeline throughput, sf1 scale-up, incremental ingest, star components,
hot-domain skew) is written to ``BENCH_DETAIL_r<N>.json`` in the repo,
referenced from the compact line via ``detail_file``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Representative headline set: one per operator family, weighted toward
# the queries whose plans matter at scale.
HEADLINE = [
    "q_agg_group",        # flagship hash aggregate (TPC-H Q1 shape)
    "q_audit_delivery",   # the reference's own verification query
    "q_join_multiway",    # star join: fact-fact shuffle + broadcast dims
    "q_join_asof",        # custom as-of join (union + window)
    "q_window_rank",      # partitioned ranking window
    "q_orderby",          # global range-partitioned sort
    "q_agg_percentile",   # sort-based exact percentile
    "q_scan_json_lines",  # JSON decode over the wire format
    "q_udf_scalar",       # Arrow pandas-UDF path
    "q_dedup_near",       # MinHash+LSH near-dup (Tier C scale path)
    "q_sim_topk",         # brute-force ANN baseline
    "q_text_tokens",      # tokenize + TF + top-k
    "q_stream_tumbling",  # event-time windowing (batch face)
    "q_heavy_hitters",    # Misra-Gries pruned exact heavy hitters
    "q_dedup_editdist",   # FastSS deletion-signature similarity join
    "q_funnel",           # co-partitioned multi-stage event funnel
    "q_dedup_near_capped",  # LSH with the hot-band guard ON (skew path)
    "q_dedup_simhash_capped",  # SimHash with the hot-block guard ON
]


# --- sf1 scale-up section -------------------------------------------------
# One order of magnitude above the driver's sf0.1: substantiates the 100 TB
# design claims for the queries whose plans could in principle degrade
# super-linearly (shuffle-bound dedup/funnel/ids/pipeline/topk). Tables are
# built once under .bench_sf1/ as 10 replicas of the sf0.1 tables with
# disjoint id spaces; replica text gets every TOKEN prefixed with a replica
# tag, so replicas share no shingles — the near-dup structure of sf0.1 is
# preserved exactly, 10 times over, instead of turning every doc into a
# 10-way near-dup cluster (which would measure an artifact, not the plan).
# Token count and lang are unchanged; n_chars is RECOMPUTED from the
# rewritten text (the r<i> prefixes add 2+ chars per token) so any gate
# or query deriving length from either source sees consistent values.
SCALEUP_QUERIES = [
    "q_dedup_near",
    "q_dedup_near_capped",
    "q_dedup_simhash_capped",
    "q_funnel",
    "q_doc_ids",
    "q_pipeline_e2e",
    "q_sim_topk",
    # added r5 (called out per bench hygiene; the 7 above stay the
    # cross-round comparison set): both are shuffle-bound plans whose
    # scale story is new this round — packing's two-phase prefix sum and
    # boilerplate's line-hash count/join/rollup chain
    "q_pack_sequences",
    "q_text_boilerplate",
]
SCALEUP_REPLICAS = 10
_REPLICA_ID_OFFSET = 10_000_000


def ensure_scaleup_tables(spark, src_dir: str, out_dir: str) -> None:
    """Idempotently materialize the replicated sf1 tables (documents,
    events, embeddings — the only tables SCALEUP_QUERIES touch)."""
    import shutil

    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.sources import load_table

    # v2: replica n_chars recomputed from rewritten text (r5) — bumping
    # the marker invalidates tables built by the v1 generator
    marker = os.path.join(out_dir, f"_REPLICAS_{SCALEUP_REPLICAS}_v2_OK")
    if os.path.exists(marker):
        return
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)

    def replicate(name: str, id_cols: list[str], text_col: str | None) -> None:
        base = load_table(spark, src_dir, name)
        parts = []
        for i in range(SCALEUP_REPLICAS):
            r = base
            for c in id_cols:
                r = r.withColumn(c, F.col(c) + F.lit(i * _REPLICA_ID_OFFSET))
            if text_col and i > 0:
                r = r.withColumn(
                    text_col,
                    F.array_join(
                        F.transform(
                            F.split(F.col(text_col), " "),
                            lambda w: F.concat(F.lit(f"r{i}"), w),
                        ),
                        " ",
                    ),
                )
                if "n_chars" in r.columns:
                    r = r.withColumn("n_chars", F.length(F.col(text_col)))
            parts.append(r)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )

    replicate("documents", ["doc_id"], "text")
    replicate("events", ["event_id", "user_id"], None)
    replicate("embeddings", ["vec_id"], None)
    with open(marker, "w") as f:
        f.write("ok\n")


def bench_incremental_ingest(spark, sf1_dir: str, n_runs: int) -> dict:
    """Steady-state incremental dedup at sf1, at THREE index sizes.

    The batch is fixed (the bottom-10% of documents re-ingested under
    fresh ids with one appended token — every doc a planted near-dup
    whose partner is indexed at every size, the worst case for
    verification volume); the persisted LSH band index grows
    from 2x to 5x to 9x the batch (indexing 20% / 50% / 90% of the
    corpus). The incremental contract says per-ingest-step cost tracks
    the BATCH, not the index — so the three timings must be flat. A
    rising curve would mean the index probe degraded into a corpus scan.
    ``flat_ratio`` = slowest/fastest across index sizes, computed here so
    the claim is a recorded number, not an inference."""
    import time as _time

    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators import dedup as D

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    q = docs.selectExpr(
        "percentile(doc_id, 0.1) AS p10",
        "percentile(doc_id, 0.2) AS p20",
        "percentile(doc_id, 0.5) AS p50",
        "percentile(doc_id, 0.9) AS p90",
    ).collect()[0]
    # Fixed batch: the BOTTOM-10% docs re-ingested under fresh ids with
    # one appended token. Their originals sit inside even the smallest
    # (20%) index, so every batch doc is a planted near-dup whose partner
    # IS indexed at every size — verification volume is maximal and
    # constant across the three index sizes, and the flat curve isolates
    # index-size sensitivity. (A batch drawn from ABOVE the index split
    # would have unindexed partners: nothing to verify, trivially flat.)
    batch = docs.filter(F.col("doc_id") <= q["p10"]).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" ingest audit token")).alias("text"),
    )
    by_index_size: dict[str, dict] = {}
    for frac, split in (("0.2", q["p20"]), ("0.5", q["p50"]), ("0.9", q["p90"])):
        corpus = docs.filter(F.col("doc_id") <= split)
        index_path = os.path.join(sf1_dir, f"_lsh_band_index_{frac}.parquet")
        if not os.path.exists(os.path.join(index_path, "_SUCCESS")):
            D.lsh_banded(
                D.minhash_signatures(D.word_shingles(corpus, "text", "doc_id"))
            ).write.mode("overwrite").parquet(index_path)
        index = spark.read.parquet(index_path)
        best = float("inf")
        pairs_found = 0
        for _ in range(n_runs):
            t0 = _time.time()
            cached = []
            pairs, novel, _banded = D.incremental_near_dedup(
                batch, corpus, index, "text", "doc_id", min_jaccard=0.5,
                cache_registry=cached,
            )
            pairs_found = pairs.count() + novel.count()
            best = min(best, _time.time() - t0)
            for c in cached:
                c.unpersist()
        by_index_size[frac] = {
            "sec": round(best, 3),
            "pairs_plus_novel": pairs_found,
        }
    secs = [v["sec"] for v in by_index_size.values()]
    return {
        "batch_fraction": 0.1,
        "corpus_fraction_indexed": list(by_index_size),
        "by_index_size": by_index_size,
        "flat_ratio": round(max(secs) / min(secs), 2) if min(secs) > 0 else None,
    }


def bench_star_convergence(spark, sf1_dir: str) -> dict:
    """Connected components by star contraction over the REAL sf1
    near-dup pair set (50k nodes): records wall time and — the scale
    claim — rounds to convergence, which should track
    O(log max-component-size), far below the component-diameter bound of
    plain label propagation."""
    import time as _time

    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators import dedup as D

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    sh = D.word_shingles(docs, "text", "doc_id")
    pairs = D.jaccard_verify(
        D.lsh_candidates(D.minhash_signatures(sh), max_bucket_size=64),
        sh,
        0.5,
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    n_pairs = pairs.count()
    stats: dict = {}
    t0 = _time.time()
    comp = D.connected_components(
        # this witness exists to measure the DISTRIBUTED star loop's
        # round count — disable the driver-local union-find gate (r17)
        pairs, docs.select("doc_id"), stats=stats, local_max_edges=0
    )
    n_clusters = comp.select("cluster_id").distinct().count()
    sec = _time.time() - t0
    return {
        "n_nodes": docs.count(),
        "n_pairs": n_pairs,
        "n_clusters": n_clusters,
        "rounds": stats.get("rounds"),
        "sec": round(sec, 3),
    }


def materialize(df) -> int:
    df.write.mode("overwrite").format("noop").save()
    return 0


CORPUS_SCALEUP_QUERIES = [
    "q_corpus_mix",
    "q_domain_cap",
    "q_split_assign",
    "q_text_unigram_logprob",
]


def bench_corpus_scaleup(spark, sf_dir: str, sf1_dir: str, n_runs: int) -> dict:
    """sf1 rows for the corpus-assembly family + a deliberately
    hot-domain skew probe (VERDICT r5 #6).

    Part 1: the four corpus queries at sf0.1 vs sf1 in the same session —
    the grouped prefix sum (mix), two-stage domain rank (cap), salted
    split, and token-keyed LM join are exactly the plans whose skew
    claims deserve a 10x-data measurement.

    Part 2: the skew claim itself, measured HONESTLY. The sf1 documents
    are exploded x20 to 1M rows with ONE domain owning 50%, then the
    per-domain exclusive prefix sum runs two ways: the engine's
    two-phase grouped_running_total (hot domain SPANS range partitions)
    vs the naive ``sum() OVER (PARTITION BY source ORDER BY doc_id)``
    that funnels the hot domain through one reducer.

    What the numbers mean: in a single local JVM the NAIVE form wins
    wall-clock (measured ~0.5 s vs ~1.1 s at 1M rows — no network
    shuffle, and one thread sorts 500k narrow rows easily), so the
    recorded time ratio is the two-phase form's insurance premium, not
    a victory lap. The scale argument is the CONCENTRATION metric
    recorded alongside: ``naive_max_task_rows`` equals the hot domain
    (50% of the corpus through ONE task — grows linearly with data
    until that task exceeds executor memory or becomes the straggler),
    while ``two_phase_max_task_rows`` is bounded by the range layout
    (~rows/partitions) REGARDLESS of skew. At 100 TB the former is an
    OOM; the latter is just another partition."""
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators.ids import grouped_running_total
    from kafka_map_reduce_spark.registry import all_queries

    specs = all_queries()

    def best_of(fn) -> float:
        best = float("inf")
        for _ in range(n_runs):
            t0 = _time.time()
            fn()
            best = min(best, _time.time() - t0)
        return round(best, 3)

    out: dict = {"queries_sf0.1": {}, "queries_sf1": {}, "scaleup_ratio": {}}
    for name in CORPUS_SCALEUP_QUERIES:
        base = best_of(lambda: materialize(specs[name].fn(spark, sf_dir)))
        big = best_of(lambda: materialize(specs[name].fn(spark, sf1_dir)))
        out["queries_sf0.1"][name] = base
        out["queries_sf1"][name] = big
        if base > 0:
            out["scaleup_ratio"][name] = round(big / base, 2)

    docs_hot = (
        spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
        .select("doc_id", "n_chars", "source")
        .withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(19))))
        .select(
            (F.col("doc_id") * 20 + F.col("__r")).alias("doc_id"),
            "n_chars",
            F.when(
                F.pmod(F.col("doc_id") * 20 + F.col("__r"), 2) == 0,
                F.lit("hot_source"),
            )
            .otherwise(F.col("source"))
            .alias("source"),
        )
        .localCheckpoint(eager=True)  # isolate prefix-sum cost from scan
    )
    n_rows = docs_hot.count()
    n_hot = docs_hot.filter(F.col("source") == "hot_source").count()
    two_phase = best_of(
        lambda: materialize(
            grouped_running_total(
                docs_hot, ["source"], ["doc_id"], "n_chars"
            )
        )
    )
    naive_w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = best_of(
        lambda: materialize(
            docs_hot.withColumn(
                "cum_before",
                F.coalesce(F.sum("n_chars").over(naive_w), F.lit(0)),
            )
        )
    )
    # Concentration: the scale-invariant witness. Naive funnels the
    # whole hot domain through one task; two-phase's max task is set by
    # the range layout (measured, not assumed). AQE's partition
    # coalescing merges these deliberately-small bench partitions into a
    # few big ones (1M narrow rows ~ 30 MB < one advisory partition),
    # which would report the coalesced size, not the layout bound — at
    # 100 TB partitions are full and coalescing is a no-op, so the probe
    # disables it for this one measurement.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev_coalesce = spark.conf.get(coalesce_key, "true")
    try:
        spark.conf.set(coalesce_key, "false")
        two_phase_max = (
            docs_hot.repartitionByRange("source", "doc_id")
            .groupBy(F.spark_partition_id().alias("__p"))
            .count()
            .agg(F.max("count").alias("m"))
            .first()["m"]
        )
    finally:
        spark.conf.set(coalesce_key, prev_coalesce)
    out["hot_domain"] = {
        "n_rows": n_rows,
        "hot_domain_rows": n_hot,
        "two_phase_sec": two_phase,
        "naive_window_sec": naive,
        "two_phase_over_naive_local": round(two_phase / naive, 2)
        if naive > 0
        else None,
        "naive_max_task_rows": n_hot,
        "two_phase_max_task_rows": int(two_phase_max),
        "note": (
            "single-JVM local mode favors the naive window (no network "
            "shuffle; one thread sorts the hot domain easily) — the "
            "recorded time ratio is the two-phase form's insurance "
            "premium. The scale argument is concentration: naive puts "
            "hot_domain_rows (50% of the corpus, grows with data) "
            "through ONE task; two-phase's max task is bounded by the "
            "range layout regardless of skew."
        ),
    }
    docs_hot.unpersist()
    return out


def bench_pipeline_throughput(spark, sf_dir: str, n_runs: int) -> dict:
    """End-to-end Tier-A pipeline throughput over the events table —
    the number that answers the reference's own workload (its entire
    product is source → par_map → reduce → sink, main.rs:85-122; it
    publishes no throughput figures to compare against, BASELINE.md).

    Two faces of the same pipeline, measured separately because they
    bound the design space:
    - map_expr (JVM): parse + derive + filter in codegen — the engine's
      preferred path for SQL-expressible record transforms;
    - par_map (Arrow/Python): the same transform as a per-record Python
      dict function — the path a user takes when the transform genuinely
      needs Python, and the honest analogue of the reference's
      arbitrary-Rust par_map stage.
    Sink is the parquet batch sink with an uncapped batch (one file per
    partition): the 128-row reference cap models HTTP insert batching,
    which would measure file-creation overhead here, not the engine.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_map_reduce_spark.sources import load_table
    from kafka_map_reduce_spark.streaming.pipeline import ParquetSink, Pipeline

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "props"
    )
    n_rows = events.count()
    out: dict = {"rows": n_rows}

    def run(build) -> float:
        best = float("inf")
        for _ in range(n_runs):
            tmp = tempfile.mkdtemp(prefix="bench_pipe_")
            try:
                t0 = time.time()
                build(ParquetSink(os.path.join(tmp, "out"), max_batch_rows=1 << 30))
                best = min(best, time.time() - t0)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        return best

    jvm_sec = run(
        lambda sink: Pipeline(events)
        .map_expr(
            value_bucket=F.floor(F.col("value") * 10).cast("long"),
            etype=F.upper(F.col("event_type")),
            plen=F.length(F.col("props")),
        )
        .filter(F.col("value") >= 0)
        .run_batch(sink)
    )

    # par_map APPENDS derived fields (input columns pass through for DLQ
    # provenance), so out_fields holds only the new columns
    fields = T.StructType(
        [
            T.StructField("value_bucket", T.LongType()),
            T.StructField("etype", T.StringType()),
            T.StructField("plen", T.IntegerType()),
        ]
    )

    def py_transform(rec: dict) -> dict:
        return {
            "value_bucket": int(rec["value"] * 10 // 1),
            "etype": rec["event_type"].upper(),
            "plen": len(rec["props"]),
        }

    arrow_sec = run(
        lambda sink: Pipeline(events)
        .par_map(py_transform, fields)
        .run_batch(sink)
    )
    out["jvm_map_expr_rows_per_sec"] = int(n_rows / jvm_sec)
    out["arrow_par_map_rows_per_sec"] = int(n_rows / arrow_sec)
    return out


def host_calibration(spark, sf_dir: str, n_runs: int) -> dict:
    """Fixed-work host probe (r8 verdict: two rounds of headline movement
    were attributed to hypervisor drift by INFERENCE from its uniformity
    across code-untouched queries; this makes it a measurement).

    Two probes, both constant-work across rounds so their timings move
    only when the HOST does:
    - ``cpu_sec``: a single-thread pure-Python LCG loop (8M steps) — no
      Spark, no IO, no allocation growth; the direct witness of per-core
      CPU time stolen by the hypervisor.
    - ``scan_sec``: one fixed parquet scan+aggregate over the events
      table at the bench sf (JVM-side, whole-stage codegen) — the IO+JVM
      face of the same question.
    min-of-n like every other timing. ``shared_vs_prev`` normalizes by
    the CPU probe (the purer signal — the scan probe is recorded for
    diagnosis, not used as the divisor).

    r10 lesson (VERDICT r10 what's-wrong #1): two same-round runs of
    this probe produced drift estimates of opposite sign (+2% / −5%),
    flipping the calibrated conclusion on code-untouched queries. A
    point estimate without a recorded spread cannot adjudicate that, so
    since r11 the CPU probe takes ``CAL_CPU_SAMPLES`` (≥ n_runs)
    samples and records them all plus the relative spread
    ((max−min)/min); ``cpu_sec`` stays the min of the FIRST ``n_runs``
    samples — NOT min-of-all — because the r9/r10 artifacts it is
    divided by recorded min-of-3, and a min over more draws is a
    differently-biased estimator (expected min-of-7 < expected min-of-3
    under the same noise), which would pull host_cpu_drift below 1 and
    inflate every cross-round calibrated ratio by the very ~1-2% the
    probe exists to adjudicate. The extra samples feed ONLY the spread.
    ``cpu_probe()`` is exposed separately so main() can re-probe AFTER
    the headline set and witness within-run host drift too."""
    from pyspark.sql import functions as F

    samples = cpu_probe(max(CAL_CPU_SAMPLES, n_runs))
    scan_samples = scan_probe(spark, sf_dir, n_runs)
    return {
        "cpu_sec": round(min(samples[:n_runs]), 3),
        "cpu_samples": [round(s, 3) for s in samples],
        "cpu_rel_spread": round((max(samples) - min(samples)) / min(samples), 4),
        # scan_sec stays the PRE-headline min-of-n (protocol match with
        # the r9-r12 artifacts it is divided by — the min discards the
        # cold first sample those rounds drew, so warming first leaves
        # the estimator's value unchanged); since r13 the samples and
        # spread are recorded too, because the scan axis joined the
        # calibration contract (r12 verdict what's-wrong #1: the probe
        # explained q_dedup_simhash_capped's drift but carried no error
        # bar, so it could diagnose and never certify).
        "scan_sec": round(min(scan_samples), 3),
        "scan_samples": [round(s, 3) for s in scan_samples],
        # Floored at CAL_SPREAD_FLOOR since r15 (ADVICE r14 #2): the
        # lucky-point-collapse rationale applies to 3 same-phase scan
        # samples exactly as to the cpu/par estimators — a coincident
        # triple must not certify ordinary probe noise as an engine
        # change. The definition stays the PRE-phase raw range (the
        # post phase measures warmth, see scan_probe); the unfloored
        # value is kept as _raw. Flooring only ever WIDENS the band, so
        # cross-round band arithmetic against unfloored prior rounds
        # stays conservative.
        "scan_rel_spread": max(
            round(
                (max(scan_samples) - min(scan_samples)) / min(scan_samples), 4
            ),
            CAL_SPREAD_FLOOR,
        ),
        "scan_rel_spread_raw": round(
            (max(scan_samples) - min(scan_samples)) / min(scan_samples), 4
        ),
        "scan_rel_spread_def": "raw_pre_range_floored_v15",
    }


def scan_probe(spark, sf_dir: str, n: int) -> list:
    """n timings of the fixed parquet scan+aggregate over the events
    table — the JVM-throughput (whole-stage codegen + IO) face of the
    host, exposed for the pre AND post headline probes.

    One untimed warm-up scan first: unlike the LCG loop, a parquet scan
    has cache state (footer decode JIT, OS page cache), and the first
    r13 run showed exactly what mixing states does — pre samples
    [0.308, 0.228, 0.224] against a post-headline 0.106 pooled into a
    1.9 relative spread that was WARMTH, not host drift. The spread
    this probe's callers record must therefore come from same-phase
    samples only (see main(): the scan axis, unlike the cpu axis, does
    NOT pool pre+post)."""
    from pyspark.sql import functions as F

    ev = os.path.join(sf_dir, "events.parquet")

    def one_scan():
        t0 = time.time()
        spark.read.parquet(ev).agg(
            F.count(F.lit(1)), F.sum("value"), F.min("ts"), F.max("ts")
        ).write.mode("overwrite").format("noop").save()
        return time.time() - t0

    one_scan()  # warm-up, untimed
    return [one_scan() for _ in range(n)]


def stage_list(spark) -> list:
    """Every stage the AppStatusStore holds, as its JVM StageData
    objects (executorRunTime, executorCpuTime, input and shuffle bytes,
    numCompleteTasks, ...) — the one stage reader bench and tools share.

    Instrument notes (the first r13 bench run recorded cores == 1.0 for
    every query — two real pitfalls, both verified by experiment):
    - executorList's totalDuration is LIVE accounting: read immediately
      after a query it lags the listener bus, and a stuck live-task
      entry integrates wall time (delta == wall exactly, for every
      query). stageList carries final per-stage executorRunTime values
      instead.
    - the listener bus drains asynchronously: waitUntilEmpty() first,
      or the just-finished stages are missing from the read.
    stageList's Scala default args are materialized via the $default$N
    accessors (py4j requires every parameter explicitly)."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    it = store.stageList(
        spark._jvm.java.util.ArrayList(),
        getattr(store, "stageList$default$2")(),
        getattr(store, "stageList$default$3")(),
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    ).iterator()
    stages = []
    while it.hasNext():
        stages.append(it.next())
    return stages


def task_seconds(spark) -> float:
    """Cumulative task run time (core-seconds) over the stages of
    ``stage_list``. Deltas around a query give its average busy cores
    (task-sec / wall-sec), which is what classifies each headline query
    to its best-predicting calibration axis: a 1-2-core query's wall
    tracks single-stream JVM throughput (the scan probe), a 10-30-core
    query's wall tracks multi-core capacity (the par probe).

    Fail-open: the reader reaches into package-private Spark internals
    (listenerBus, the $default$N accessors), so any Spark upgrade that
    moves them must degrade the AXIS CLASSIFICATION, never kill the
    bench — the driver's per-round run is the artifact that matters.
    On failure returns -1.0; the caller maps that to 0 measured cores
    (conservative scan-axis classification) and the bench proceeds."""
    try:
        return sum(s.executorRunTime() for s in stage_list(spark)) / 1000.0
    except Exception:
        return -1.0


# Axis classification thresholds (r13, executing r12 verdict item #3):
# a headline query whose best rep runs at >= this many average busy
# cores is certified against the PAR axis (multi-core capacity); below
# it, against the SCAN axis (single-stream JVM throughput) — except the
# Python-worker-bound queries, which track the single-thread Python
# probe (CPU axis). The measured cores land in BENCH_DETAIL so a query
# drifting across the boundary is visible, not silent.
PAR_AXIS_MIN_CORES = 6.0
PY_AXIS_QUERIES = {"q_udf_scalar"}  # Arrow pandas-UDF path: Python workers
# Measured single-thread-affinity overrides (r14 verdict item #3):
# queries whose sub-par-threshold wall tracks the single-thread cpu
# probe, established by a cross-session fit, not by mechanism class.
# q_agg_group: three sessions (r12 bench, r13 bench, r14 idle re-run,
# code byte-identical across all three — git diff 76dc450..HEAD over
# aggregates.py+sources/ is empty) give (cpu_sec, wall) =
# (0.797, 1.182), (1.069, 1.670), (0.837, 1.331): linear with slope
# 1.68, residuals <= 3.3% — the decimal partial aggregate runs ~3 busy
# cores but its wall is set by single-thread speed (final merge +
# 0.25 s driver build + the fan-out's residual serial fraction). Its
# r13 "1.41x regression" was exactly host_cpu_drift 1.341; the scan
# axis (parquet single-stream, drift 1.101) under-corrected it.
CPU_AXIS_QUERIES = PY_AXIS_QUERIES | {"q_agg_group"}

# Pinned per-query certification axis (r16, executing the r15 verdict
# item #4): the two same-code r15 bench runs classified the SAME 18
# queries differently (cpu n=1 / par n=3 mid-round vs cpu n=2 / par
# n=2 closing) because q_agg_group (3.8 vs >=6 measured cores) and
# q_dedup_near_capped (5.8-6.5 across r13-r15) straddle
# PAR_AXIS_MIN_CORES run to run — which silently changes what each
# class band means round-over-round. The axis shared_vs_prev certifies
# against is therefore PINNED here (the modal measured assignment over
# the r13-r15 detail artifacts plus the CPU_AXIS_QUERIES fit); the
# per-session measured cores and the dynamic classify_axis() result
# still land in BENCH_DETAIL as query_axis_measured, so a query
# persistently measuring across the boundary earns a pin UPDATE in a
# reviewed commit, never a silent per-session flip. Pinned by
# tests/test_bench_calibration.py.
QUERY_AXIS_PINNED: dict[str, str] = {
    "q_agg_group": "cpu",  # r14 three-session cpu_sec fit, slope 1.68
    "q_udf_scalar": "cpu",  # Python-worker-bound (Arrow pandas UDF)
    "q_dedup_near": "par",  # 6.0-7.2 measured cores r13-r15
    "q_dedup_near_capped": "par",  # 5.8-6.5; same LSH fan-out profile
    # every other headline query: scan (0.2-5.2 measured cores, stable)
}


def pinned_axis(name: str) -> str:
    """The deterministic certification axis for a headline query."""
    return QUERY_AXIS_PINNED.get(name, "scan")


# A 2-point estimator spread can coincide at ~0 on a lucky run while
# the probe's true run-to-run variance is not 0 — the r10 lesson this
# band exists for measured same-code same-round probe repeats
# disagreeing by +2%/-5%. Floor the recorded spread at that measured
# disagreement so a point-collapsed band can never certify ordinary
# probe noise as an engine change (r14 review finding).
CAL_SPREAD_FLOOR = 0.05


def estimator_rel_spread(*mins: float) -> float:
    """Estimator-level cpu-axis spread (r14 verdict item #7): the band
    divisor is a min-of-n estimator, so its in-run uncertainty is the
    relative drift between the same-protocol estimators this run
    computed — not the full raw-sample range, which a min never
    approaches. Since r16 the cpu axis passes THREE estimators
    (pre/mid/post min-of-n, see the mid-headline probe in main()): the
    r15 closing session measured pre-vs-post drift 1.02 while the
    cpu-class queries — which run in the FIRST half of the headline set
    — moved ~1.3x, so a two-point spread around a slowdown localized
    inside the headline window under-covers it by construction. Extra
    estimators only ever WIDEN the spread (conservative vs prior
    rounds' two-point bands). Floored at CAL_SPREAD_FLOOR (see above)."""
    return max(
        round((max(mins) - min(mins)) / min(mins), 4),
        CAL_SPREAD_FLOOR,
    )


def classify_axis(name: str, cores: float) -> str:
    """THE axis-assignment rule (single source; main() and
    tests/test_bench_calibration.py both call this, ADVICE r13 — the
    test used to re-implement the rule inline and would have kept
    passing if main()'s copy diverged)."""
    if cores >= PAR_AXIS_MIN_CORES:
        return "par"
    return "cpu" if name in CPU_AXIS_QUERIES else "scan"


CAL_CPU_SAMPLES = 7  # ~0.8 s each; 7 bounds the min estimator's noise

# Compact-artifact byte budget (r16): the driver tail-captures 2000
# bytes and parses the final line; the r15 compact line reached 1930.
# These keys are recorded in BENCH_DETAIL only — purely-diagnostic
# calibration scalars and the three whole-set single-axis calibrations
# superseded by per_class in r13. Every scalar a future round's
# shared_vs_prev divides by (cpu_sec, cpu_par_sec, scan_sec + their
# rel_spreads) must NOT appear here — pinned by
# tests/test_bench_calibration.py.
CAL_DETAIL_ONLY = frozenset(
    {
        "cpu_rel_spread_raw",
        "cpu_par_rel_spread_raw",
        "scan_rel_spread_raw",
        "cpu_par_over_single",
        "scan_sec_post",
        # the r17 divisor decision rides the compact line as
        # per_class.cpu.divisor (next to the drift it describes); this
        # long-form tag is redundant with it and the compact line sits
        # ~70 bytes under the driver's 2000-byte tail window
        "cpu_class_divisor_def",
    }
)
SVP_DETAIL_ONLY = frozenset(
    {
        "ratio_calibrated_par",
        "ratio_calibrated_scan",
        "ratio_calibrated_band2",
    }
)


def cpu_probe(n: int) -> list:
    """n timings of the fixed single-thread LCG loop (8M steps)."""
    samples = []
    for _ in range(n):
        t0 = time.time()
        x = 1
        for _i in range(8_000_000):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        samples.append(time.time() - t0)
    return samples


def _lcg_loop(_arg=None) -> int:
    """The probe's fixed 8M-step LCG loop as a picklable worker."""
    x = 1
    for _i in range(8_000_000):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return x


def cpu_par_probe(n: int, workers: int | None = None) -> list:
    """n wall-timings of ``workers`` LCG loops running CONCURRENTLY in
    separate processes (fork; pure-CPU children, no JVM/socket use).

    Why it exists (r11 finding): on the shared sandbox host the
    single-thread probe and the 32-thread bench headline moved in
    OPPOSITE directions between two same-code runs (probe 1.152 → 0.980
    s while headline 21.82 → 22.889 s) — multi-core capacity varies
    independently of single-thread speed, and a single-thread loop
    cannot see it. On an unloaded dedicated host each sample's wall
    time ≈ one loop's time; co-tenant pressure shows up as the ratio
    par/single rising above ~1. RECORD-ONLY this round (the r9-r10
    introduction pattern: the artifact must carry the number for one
    round before shared_vs_prev may divide by it — r12 can adopt it as
    the second calibration axis)."""
    import multiprocessing as mp

    if workers is None:
        workers = mp.cpu_count()
    samples = []
    ctx = mp.get_context("fork")
    for _ in range(n):
        with ctx.Pool(workers) as pool:
            t0 = time.time()
            pool.map(_lcg_loop, range(workers))
            samples.append(time.time() - t0)
    return samples


def current_round() -> int:
    """The round this run belongs to: $SPARK_GRAFT_ROUND if set, else
    1 + the highest round recorded in BENCH_r*.json (the driver writes
    that artifact AFTER the bench runs, so during a normal round the
    newest file is last round's)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [0]
    for f in os.listdir(REPO):
        if f.startswith("BENCH_r") and f.endswith(".json"):
            try:
                rounds.append(int(f[len("BENCH_r"):-len(".json")]))
            except ValueError:
                pass
    return max(rounds) + 1


def shared_vs_prev(
    per_query: dict,
    round_no: int,
    sf: float | None,
    calibration: dict | None = None,
    query_axis: dict | None = None,
) -> dict | None:
    """Cross-round comparability ratio, computed HERE so the recorded
    artifact carries its own baseline: sum of this run's timings over
    the queries shared with the most recent PRIOR round's BENCH_r*.json,
    divided by that file's sum over the same set.

    Two hazards handled (the second is ADVICE r5 #5): a prior artifact
    whose ``parsed`` is null (round 5's) is skipped in favor of the next
    older one, and any artifact from THIS round or later is excluded so
    a re-run after the driver writes BENCH_r<N>.json never compares the
    run against its own output (self-referential ~1.0 ratio).

    When BOTH this run and the prior artifact carry a calibration
    probe, ``ratio_calibrated`` = ratio / (cpu_now / cpu_prev) — the
    headline movement with the measured host drift divided out. Prior
    artifacts without a probe (r8 and earlier) get
    ``ratio_calibrated: null``; the raw ratio is always kept."""
    candidates = []
    for f in os.listdir(REPO):
        if f.startswith("BENCH_r") and f.endswith(".json"):
            try:
                r = int(f[len("BENCH_r"):-len(".json")])
            except ValueError:
                continue
            if r < round_no:
                candidates.append((r, f))
    for _, fname in sorted(candidates, reverse=True):
        try:
            with open(os.path.join(REPO, fname)) as fh:
                prev_doc = json.load(fh)
            parsed = prev_doc.get("parsed", prev_doc)
            if not isinstance(parsed, dict):
                continue  # e.g. BENCH_r05's parsed: null
            if parsed.get("sf") != sf:
                continue  # cross-sf ratios are meaningless
            prev_queries = parsed.get("queries", {})
            shared = sorted(set(per_query) & set(prev_queries))
            prev_sum = sum(prev_queries[q] for q in shared)
            if shared and prev_sum > 0:
                out = {
                    "prev_file": fname,
                    "n_shared": len(shared),
                    "ratio": round(
                        sum(per_query[q] for q in shared) / prev_sum, 3
                    ),
                    "ratio_calibrated": None,
                }
                prev_cal = parsed.get("calibration") or {}
                if calibration and prev_cal.get("cpu_sec"):
                    drift = calibration["cpu_sec"] / prev_cal["cpu_sec"]
                    out["host_cpu_drift"] = round(drift, 3)
                    out["ratio_calibrated"] = round(out["ratio"] / drift, 3)
                    # Uncertainty band (r10 what's-wrong #1): the drift
                    # divisor is a ratio of two min-estimators, each
                    # uncertain by its run's recorded relative spread
                    # (prior rounds without one contribute 0 — the band
                    # is then one-sided-honest, not complete). If the
                    # band straddles 1.0 the calibrated ratio is NOT
                    # evidence of an engine change.
                    spread_now = calibration.get("cpu_rel_spread")
                    if spread_now is not None:
                        band = spread_now + (prev_cal.get("cpu_rel_spread") or 0.0)
                        out["calibration_rel_spread"] = round(band, 4)
                        out["ratio_calibrated_band"] = [
                            round(out["ratio"] / (drift * (1.0 + band)), 3),
                            round(out["ratio"] * (1.0 + band) / drift, 3),
                        ]
                # Second calibration axis (r12, adopting the r11
                # record-only probe): multi-core capacity moves
                # independently of single-thread speed on this host
                # (BENCH_r11: probe 1.152->0.980 s while the 32-thread
                # headline went 21.82->22.889 s), and the queries whose
                # speedup depends on 32-way fan-out track the PAR probe,
                # not the single-thread one. A query's parallel fraction
                # is unknown per-query, so the host-corrected ratio lies
                # BETWEEN the two axis-pure calibrations:
                # ratio_calibrated_band2 is the union of the per-axis
                # bands, each widened by its own pooled spread. The
                # contract is unchanged: a band2 straddling 1.0 is NOT
                # evidence of an engine change.
                if calibration and prev_cal.get("cpu_par_sec"):
                    par_drift = (
                        calibration["cpu_par_sec"] / prev_cal["cpu_par_sec"]
                    )
                    out["host_par_drift"] = round(par_drift, 3)
                    out["ratio_calibrated_par"] = round(
                        out["ratio"] / par_drift, 3
                    )
                    prev_par_spread = prev_cal.get("cpu_par_rel_spread")
                    if prev_par_spread is None and prev_cal.get("cpu_par_samples"):
                        ps = prev_cal["cpu_par_samples"]
                        prev_par_spread = (max(ps) - min(ps)) / min(ps)
                    par_band = (
                        calibration.get("cpu_par_rel_spread") or 0.0
                    ) + (prev_par_spread or 0.0)
                    out["par_calibration_rel_spread"] = round(par_band, 4)
                    if out.get("ratio_calibrated") is not None:
                        cpu_band = out.get("calibration_rel_spread") or 0.0
                        drift = out["host_cpu_drift"]
                        out["ratio_calibrated_band2"] = [
                            round(
                                min(
                                    out["ratio"] / (drift * (1.0 + cpu_band)),
                                    out["ratio"]
                                    / (par_drift * (1.0 + par_band)),
                                ),
                                3,
                            ),
                            round(
                                max(
                                    out["ratio"] * (1.0 + cpu_band) / drift,
                                    out["ratio"] * (1.0 + par_band) / par_drift,
                                ),
                                3,
                            ),
                        ]
                # Third axis (promoted r13 from the r12 informational
                # record, executing the r12 verdict item #3): single-
                # task JVM-bound queries track the SCAN probe — it
                # drifted 1.62x r10->r12 while the Python LCG axis moved
                # 1.18x, and that gap was the one unexplained regression
                # in repo history (q_dedup_simhash_capped). Since r13 the
                # probe carries its own spread; the r12 artifact has
                # none, so the first cross-round scan band is one-sided-
                # honest (prev contributes 0), same introduction
                # convention as the cpu axis in r11.
                scan_band = None
                if calibration and prev_cal.get("scan_sec"):
                    scan_drift = calibration["scan_sec"] / prev_cal["scan_sec"]
                    out["host_scan_drift"] = round(scan_drift, 3)
                    out["ratio_calibrated_scan"] = round(
                        out["ratio"] / scan_drift, 3
                    )
                    scan_band = (calibration.get("scan_rel_spread") or 0.0) + (
                        prev_cal.get("scan_rel_spread") or 0.0
                    )
                    out["scan_calibration_rel_spread"] = round(scan_band, 4)
                # Per-class certification (r12 verdict item #3's "better"
                # option): the union-of-axes band2 was the union of three
                # DISAGREEING host drifts, so it certified nothing three
                # rounds running. Instead, classify each headline query
                # to the axis its wall time actually tracks (measured
                # avg busy cores this run: >= PAR_AXIS_MIN_CORES -> par
                # probe; below -> scan probe; Python-worker-bound -> cpu
                # probe) and calibrate each class by its own axis only.
                # The aggregate `ratio_calibrated_classed` divides every
                # shared query by its class drift; `classed_band` widens
                # each class's divisor by that axis's pooled spread —
                # still: a band straddling 1.0 is NOT evidence.
                if query_axis and calibration:
                    axis_drift: dict[str, float] = {}
                    axis_band: dict[str, float] = {}
                    axis_divisor: dict[str, str] = {}
                    if prev_cal.get("scan_sec") and scan_band is not None:
                        axis_drift["scan"] = (
                            calibration["scan_sec"] / prev_cal["scan_sec"]
                        )
                        axis_band["scan"] = scan_band
                    # cpu-class divisor promotion (r17, executing the
                    # r16 verdict item #3): the co-located min — the
                    # minimum over the LCG samples taken immediately
                    # before each rep of each cpu-pinned query — becomes
                    # the cpu-class drift divisor when BOTH rounds
                    # recorded it (r16 introduced it record-only, the
                    # standing introduction convention). Decided on
                    # BENCH_r16's live witness: the co-located readings
                    # predicted q_agg_group's wall within 3% of the r14
                    # cross-session fit (slope x 0.88 co-located) while
                    # the session-min pre-probe (0.749) predicted 17%
                    # low — the probe measured AT the moment the
                    # cpu-class queries ran is the right divisor for
                    # them. Rounds <= r15 carry no co-located field, so
                    # comparisons against them fall back to cpu_sec
                    # (same-definition on both sides either way); the
                    # chosen divisor is recorded per_class so every
                    # artifact names what it divided by. The band term
                    # stays the quad-pooled cpu_rel_spread, whose
                    # estimator set includes the co-located min.
                    if calibration.get("cpu_colocated_min") and prev_cal.get(
                        "cpu_colocated_min"
                    ):
                        axis_drift["cpu"] = (
                            calibration["cpu_colocated_min"]
                            / prev_cal["cpu_colocated_min"]
                        )
                        axis_divisor["cpu"] = "colocated_min"
                    elif prev_cal.get("cpu_sec"):
                        axis_drift["cpu"] = (
                            calibration["cpu_sec"] / prev_cal["cpu_sec"]
                        )
                        axis_divisor["cpu"] = "cpu_sec"
                    if "cpu" in axis_drift:
                        axis_band["cpu"] = (
                            calibration.get("cpu_rel_spread") or 0.0
                        ) + (prev_cal.get("cpu_rel_spread") or 0.0)
                    if prev_cal.get("cpu_par_sec"):
                        axis_drift["par"] = (
                            calibration["cpu_par_sec"] / prev_cal["cpu_par_sec"]
                        )
                        axis_band["par"] = (
                            calibration.get("cpu_par_rel_spread") or 0.0
                        ) + (prev_cal.get("cpu_par_rel_spread") or 0.0)
                    per_class: dict[str, dict] = {}
                    num = den = lo_den = hi_den = 0.0
                    n_classified = 0
                    for axis in ("scan", "cpu", "par"):
                        qs = [q for q in shared if query_axis.get(q) == axis]
                        if not qs or axis not in axis_drift:
                            continue
                        s_now = sum(per_query[q] for q in qs)
                        s_prev = sum(prev_queries[q] for q in qs)
                        if s_prev <= 0:
                            continue
                        n_classified += len(qs)
                        d, b = axis_drift[axis], axis_band[axis]
                        r = s_now / s_prev
                        per_class[axis] = {
                            "n": len(qs),
                            "ratio": round(r, 3),
                            "drift": round(d, 3),
                            "ratio_calibrated": round(r / d, 3),
                            "band": [
                                round(r / (d * (1.0 + b)), 3),
                                round(r * (1.0 + b) / d, 3),
                            ],
                        }
                        if axis in axis_divisor:
                            per_class[axis]["divisor"] = axis_divisor[axis]
                        num += s_now
                        den += s_prev * d
                        lo_den += s_prev * d * (1.0 + b)
                        hi_den += s_prev * d / (1.0 + b)
                    if per_class and den > 0:
                        out["per_class"] = per_class
                        out["ratio_calibrated_classed"] = round(num / den, 3)
                        # Coverage honesty (ADVICE r13): a shared query
                        # whose class has no usable prev-round axis is
                        # silently excluded from the classed aggregate;
                        # record how many queries it actually covers so
                        # a subset-coverage number is visible next to
                        # n_shared in the compact artifact.
                        out["n_classified"] = n_classified
                        out["classed_band"] = [
                            round(num / lo_den, 3),
                            round(num / hi_den, 3),
                        ]
                return out
        except (json.JSONDecodeError, OSError, TypeError):
            continue  # a malformed prior artifact must not fail the bench
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from kafka_map_reduce_spark import get_session
    from kafka_map_reduce_spark.registry import all_queries

    spark = get_session(
        "kmr-bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    specs = all_queries()

    # Warm-up (not timed): JVM codegen via a tiny aggregate, and the
    # Python-UDF worker pool via a small Arrow round-trip — so timings
    # measure the plans, not one-time JVM JIT / worker-fork costs.
    materialize(specs["q_agg_group"].fn(spark, sf_dir).limit(1))
    materialize(specs["q_udf_scalar"].fn(spark, sf_dir).limit(256))

    # n repeats per query, report the MIN: single-run timings at sf0.1
    # carry ~0.4 s of fixed harness noise plus host-load jitter, which
    # masqueraded as >20% "regressions" between rounds. The min of n>=3
    # is the standard low-variance estimator for a cold-cache-free plan.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))

    # Host-calibration probe (r8 verdict #3): fixed work, timed before
    # the headline set, recorded in the compact line so shared_vs_prev
    # can divide measured host drift out of the cross-round ratio.
    calibration = host_calibration(spark, sf_dir, n_runs)
    # Pre-headline multi-core samples (r12): feed ONLY the par-axis
    # spread (within-run par-capacity drift), never cpu_par_sec itself —
    # the estimator must stay min-of-3-POST to match the r11 artifact it
    # is divided by in shared_vs_prev.
    par_pre = cpu_par_probe(3)
    calibration["cpu_par_pre_samples"] = [round(s, 3) for s in par_pre]
    per_query: dict[str, float] = {}
    query_cores: dict[str, float] = {}
    # Co-located cpu samples (r16, the r15 verdict item #3's protocol
    # rule): one LCG sample immediately before EACH rep of each
    # cpu-pinned query, so the cpu-class certification carries a probe
    # measured AT the moment those queries ran — the r15 closing
    # session's single pre-headline probe measured drift 1.02 in a
    # session where the cpu-class queries (positions 1 and 7 of 18)
    # moved ~1.3x. Introduced record-only in r16 (the r9/r11
    # convention); PROMOTED in r17 to the cpu-class drift divisor in
    # shared_vs_prev's per_class (see the promotion comment there — the
    # r16 live witness showed the co-located readings predict cpu-class
    # walls within 3% where the session min predicts 17% low). The mins
    # also feed cpu_rel_spread, which only widens the band.
    cpu_colocated: dict[str, list] = {}
    mid_samples: list = []
    for i, name in enumerate(HEADLINE):
        if i == len(HEADLINE) // 2:
            # Mid-headline probe: the third cpu estimator (see
            # estimator_rel_spread) — covers a host slowdown localized
            # inside the headline window, which pre-vs-post cannot see.
            mid_samples = cpu_probe(n_runs)
        best = float("inf")
        best_cores = 0.0
        for _ in range(n_runs):
            if pinned_axis(name) == "cpu":
                cpu_colocated.setdefault(name, []).append(
                    round(cpu_probe(1)[0], 3)
                )
            ts0 = task_seconds(spark)
            t0 = time.time()
            materialize(specs[name].fn(spark, sf_dir))
            wall = time.time() - t0
            if wall < best:
                best = wall
                # max(..., 0): stage-store eviction (retainedStages)
                # between the two reads can only SHRINK the delta, and a
                # failed probe reads -1; either way the clamped 0
                # classifies conservatively to the scan axis.
                ts1 = task_seconds(spark)
                best_cores = (
                    max(ts1 - ts0, 0.0) / wall
                    if ts0 >= 0.0 and ts1 >= 0.0
                    else 0.0
                )
        per_query[name] = round(best, 3)
        query_cores[name] = round(best_cores, 1)
    # Certification axis = the PINNED per-query map (r16, r15 verdict
    # item #4) — deterministic across sessions, so per_class bands mean
    # the same thing every round. The per-session measured assignment
    # (classify_axis over this run's cores) lands in the detail
    # artifact as query_axis_measured for boundary-drift diagnosis.
    query_axis = {name: pinned_axis(name) for name in HEADLINE}
    query_axis_measured = {
        name: classify_axis(name, query_cores[name]) for name in HEADLINE
    }

    total = round(sum(per_query.values()), 3)
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")

    # Post-headline CPU re-probe (r11): the same fixed loop AFTER ~20
    # minutes of bench work. If the host sped up / slowed down DURING
    # the run, pre-vs-post shows it; the pooled spread goes into the
    # calibration record so the calibrated ratio carries its own error
    # bar. cpu_sec itself stays the PRE-headline min (protocol match
    # with the r9/r10 artifacts it is compared against).
    # max(...) mirrors host_calibration (ADVICE r11): with
    # SPARK_GRAFT_BENCH_N > 7 the pre probe draws n_runs samples, so the
    # post probe must too or min(post[:n_runs]) silently becomes a
    # min-of-7 — a differently-biased estimator than cpu_sec's.
    post_samples = cpu_probe(max(CAL_CPU_SAMPLES, n_runs))
    pooled = calibration["cpu_samples"] + [round(s, 3) for s in post_samples]
    # same estimator as cpu_sec (min of the first n_runs draws) so the
    # pre-vs-post within-run comparison is bias-free too
    calibration["cpu_sec_post"] = round(min(post_samples[:n_runs]), 3)
    # Spread redefinition (r14 verdict item #7, widened r16): the band
    # divisor is the min-of-n ESTIMATOR, so its uncertainty is the
    # drift across the same-protocol estimators this run actually
    # computed — not the full range of all raw draws, which the min
    # never lands near (r13: raw range 0.487 made the cpu band useless
    # while the estimator-level drift was 0.135). Since r16 the cpu
    # spread pools FOUR estimator readings: pre, mid-headline, post,
    # and the min of the co-located samples taken at the cpu-pinned
    # queries themselves (r15 verdict item #3: the closing session's
    # pre-vs-post drift read 1.02 while the cpu-class queries moved
    # ~1.3x — a two-point spread cannot see a slowdown localized inside
    # the headline window). Extra readings only WIDEN the spread, so
    # bands vs prior two-point rounds stay conservative. The raw pooled
    # range stays recorded as cpu_rel_spread_raw for diagnosis.
    calibration["cpu_sec_mid"] = (
        round(min(mid_samples[:n_runs]), 3) if mid_samples else None
    )
    cpu_estimators = [calibration["cpu_sec"], calibration["cpu_sec_post"]]
    if calibration["cpu_sec_mid"] is not None:
        cpu_estimators.append(calibration["cpu_sec_mid"])
    if cpu_colocated:
        calibration["cpu_colocated_min"] = min(
            min(v) for v in cpu_colocated.values()
        )
        # per-query co-located lists: detail-only (the _samples strip)
        calibration["cpu_colocated_samples"] = cpu_colocated
        cpu_estimators.append(calibration["cpu_colocated_min"])
        # the r17 decision record (r16 verdict item #3): this round's
        # cpu-class drift divides co-located min by co-located min
        # whenever the prior artifact carries one (see shared_vs_prev)
        calibration["cpu_class_divisor_def"] = "colocated_min_v17"
    calibration["cpu_rel_spread"] = estimator_rel_spread(*cpu_estimators)
    calibration["cpu_rel_spread_raw"] = round(
        (max(pooled) - min(pooled)) / min(pooled), 4
    )
    # Definition tag (ADVICE r14 #1): the key kept its name across two
    # redefinitions (raw pooled range -> pre/post estimator drift r14
    # -> pre/mid/post/co-located estimator drift r16), so cross-round
    # artifact consumers need a marker for which quantity a round
    # recorded. Untagged-round rule: r14 records the estimator-v14
    # quantity WITHOUT a tag — key on the presence of the *_raw
    # sibling; rounds <= r13 are raw-range.
    calibration["cpu_rel_spread_def"] = "estimator_v16_quad"
    # Multi-core probe (r11; since r12 the SECOND calibration axis in
    # shared_vs_prev): all cores running the same loop concurrently,
    # timed after the headline set. par/single ratio >> 1 = co-tenant
    # pressure the single-thread probe cannot see — exactly what
    # distorted the fan-out-dependent queries in BENCH_r11 (~20
    # effective of 32 nominal cores post-reboot). cpu_par_sec stays
    # min-of-3-POST (protocol match with the r11 artifact it is divided
    # by); the pre samples feed only the pooled spread.
    par = cpu_par_probe(3)
    calibration["cpu_par_sec"] = round(min(par), 3)
    calibration["cpu_par_samples"] = [round(s, 3) for s in par]
    calibration["cpu_par_over_single"] = round(
        min(par) / calibration["cpu_sec_post"], 3
    )
    par_pooled = calibration["cpu_par_pre_samples"] + calibration["cpu_par_samples"]
    # Estimator-level spread, same redefinition as the cpu axis (r14
    # item #7, applied symmetrically): the par divisor is min-of-3-POST,
    # so its in-run uncertainty is the pre-vs-post min-of-3 drift; the
    # raw pooled range (this round's widest band term, 0.2161 in the
    # r14 builder run vs 0.0826 estimator-level) stays as _raw.
    calibration["cpu_par_rel_spread"] = estimator_rel_spread(
        min(par_pre), min(par)
    )
    calibration["cpu_par_rel_spread_raw"] = round(
        (max(par_pooled) - min(par_pooled)) / min(par_pooled), 4
    )
    calibration["cpu_par_rel_spread_def"] = "estimator_v14"  # see cpu tag
    # Post-headline scan re-probe (r13): recorded for within-run drift
    # diagnosis but NOT folded into scan_rel_spread — the pre and post
    # phases sit in different cache states (the headline set touches
    # the events table repeatedly), so pre-vs-post measures warmth, not
    # host drift. MEASURED r14: extending the cpu/par estimator-level
    # spread here was tried and came out 1.0095 (post min-of-3 ~2x the
    # pre's despite the probe's own warm-up scan — one warm-up pass
    # does not equal twenty headline queries' worth of page cache), so
    # the scan axis keeps the PRE-phase same-state range, which is what
    # shared_vs_prev divides against the prior round's same-definition
    # number. The estimator-level redefinition is cpu/par-only.
    scan_post = scan_probe(spark, sf_dir, n_runs)
    calibration["scan_sec_post"] = round(min(scan_post), 3)
    calibration["scan_post_samples"] = [round(s, 3) for s in scan_post]

    def bench_set(names, data_dir, runs):
        out = {}
        for name in names:
            best = float("inf")
            for _ in range(runs):
                t0 = time.time()
                materialize(specs[name].fn(spark, data_dir))
                best = min(best, time.time() - t0)
            out[name] = round(best, 3)
        return out

    round_no = current_round()
    detail_name = f"BENCH_DETAIL_r{round_no:02d}.json"

    # The compact artifact: what the driver's 2000-byte tail capture
    # parses. The headline set is pinned at 18 queries (HEADLINE) —
    # additions must be called out in the bench commit, or cross-round
    # totals silently stop meaning anything.
    result = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "runs_per_query": n_runs,
        "estimator": "min",
        "sf": float(sf) if sf else None,
        "calibration": calibration,
        "detail_file": detail_name,
    }
    # The pinned certification-axis record rides the compact artifact
    # (r15 verdict item #4: consumers must be able to see the
    # assignment — and any future pin change — in BENCH_r<N> itself).
    # Grouped-by-axis with a scan default keeps it ~100 bytes.
    result["axis_pinned"] = {
        "cpu": sorted(k for k, v in QUERY_AXIS_PINNED.items() if v == "cpu"),
        "par": sorted(k for k, v in QUERY_AXIS_PINNED.items() if v == "par"),
        "default": "scan",
    }
    svp = shared_vs_prev(
        per_query, round_no, result["sf"], calibration, query_axis
    )
    if svp:
        result["shared_vs_prev"] = svp

    # Everything below goes to the DETAIL file only.
    detail: dict = dict(result)
    detail["query_cores"] = query_cores
    detail["query_axis"] = query_axis
    detail["query_axis_measured"] = query_axis_measured
    # Compact-line hygiene (driver tail captures 2000 bytes and parses
    # the FINAL line): the per-class section grew the line, so the raw
    # sample lists move to the detail file — every scalar a future
    # round's shared_vs_prev divides by (cpu_sec, cpu_par_sec, scan_sec
    # + their rel_spreads) stays in the compact artifact. Since r16 the
    # purely-diagnostic scalars (the *_raw spread siblings, the
    # post-phase scan reading, par/single) and the three superseded
    # whole-set single-axis calibrations (per_class replaced them in
    # r13) are detail-only too — the axis_pinned record and the new cpu
    # estimators took their bytes.
    detail["calibration"] = dict(calibration)
    result["calibration"] = {
        k: v
        for k, v in calibration.items()
        if not k.endswith("_samples") and k not in CAL_DETAIL_ONLY
    }
    if svp:
        result["shared_vs_prev"] = {
            k: v for k, v in svp.items() if k not in SVP_DETAIL_ONLY
        }

    # Round-5 additions, timed in their OWN section so the pinned
    # 18-query headline set stays comparable across rounds. min-of-3
    # since r6 (the r5 single-run coverage timings carried ~0.4s harness
    # noise — q_text_repetition's 6.1s headline was mostly that). The
    # two ANN entries carry k-means training in the measured time by
    # design: the registered query trains+searches.
    r5_added = [
        "q_text_repeated_spans", "q_text_unigram_logprob",
        "q_sim_pq", "q_sim_ivfpq",
        "q_domain_cap", "q_split_assign", "q_dedup_keep_best",
        "q_text_hash_embed", "q_sim_text_topk", "q_quality_classifier",
        "q_text_repetition", "q_text_decontaminate", "q_pack_sequences",
        "q_sample_temperature", "q_text_boilerplate",
        "q_corpus_mix", "q_dedup_embedding_lsh",
    ]
    detail["r5_additions"] = bench_set(r5_added, sf_dir, n_runs)

    # Round-6 additions (first-timed this round).
    r6_added = [
        n
        for n in (
            "q_classifier_fit",
            "q_hll_sketches",
            "q_corpus_report",
            "q_sim_sq8",
            "q_text_decontaminate_spans",
            "q_stream_mix_monitor",
            "q_text_bpe",
            "q_dedup_embedding_lsh_capped",
            "q_epoch_order",
            "q_text_compressibility",
        )
        if n in specs
    ]
    if r6_added:
        detail["r6_additions"] = bench_set(r6_added, sf_dir, n_runs)

    # Round-7 additions (first-timed this round).
    r7_added = [
        n
        for n in (
            "q_sample_weighted",
            "q_text_bigram_logprob",
            "q_scan_text",
            "q_dedup_semantic",
            "q_dedup_semantic_ingest",
        )
        if n in specs
    ]
    if r7_added:
        detail["r7_additions"] = bench_set(r7_added, sf_dir, n_runs)

    # Round-8 additions (first-timed this round).
    r8_added = [
        n
        for n in (
            "q_group_rebalance",
            "q_dedup_semantic_keep_best",
            "q_join_bucketed",
            "q_upsert_merge",
        )
        if n in specs
    ]
    if r8_added:
        detail["r8_additions"] = bench_set(r8_added, sf_dir, n_runs)

    # Tier-A pipeline throughput (added r5): rows/sec through the full
    # source -> transform -> batch-sink path, JVM and Arrow faces.
    detail["pipeline"] = bench_pipeline_throughput(spark, sf_dir, n_runs)

    scaleup_on = os.environ.get("SPARK_GRAFT_SCALEUP", "1") != "0" and sf == "0.1"
    if scaleup_on:
        sf1_dir = os.path.join(REPO, ".bench_sf1")
        ensure_scaleup_tables(spark, sf_dir, sf1_dir)
        base_times = bench_set(SCALEUP_QUERIES, sf_dir, n_runs)
        sf1_times = bench_set(SCALEUP_QUERIES, sf1_dir, n_runs)
        incr = bench_incremental_ingest(spark, sf1_dir, n_runs)
        star = bench_star_convergence(spark, sf1_dir)
        pipe_sf1 = bench_pipeline_throughput(spark, sf1_dir, n_runs)
        detail["sf1"] = {
            "sf": 1.0,
            "replicas_of_sf0.1": SCALEUP_REPLICAS,
            "runs_per_query": n_runs,
            "estimator": "min",
            # r5 comparability note: BENCH_r04's q_dedup_near_capped sf1
            # number (3.06 s) was warm-cache-inflated — the auto-prune
            # path leaked a persisted candidates DataFrame (never
            # unpersisted), and Spark's CacheManager matches subsequent
            # runs' identical logical plans to that cache, so min-of-3
            # measured runs that skipped candidate generation entirely.
            # jaccard_verify has since lost the auto-prune path and its
            # candidate materialization, so nothing is cached across
            # reps and every run pays full cost.
            "notes": {
                "q_dedup_near_capped": (
                    "not comparable to BENCH_r04 sf1 (3.06s): that number "
                    "was warm-cache-inflated by the leaked persisted "
                    "candidates (CacheManager plan-matched them across "
                    "min-of-3 reps, so reps 2-3 skipped candidate "
                    "generation); leak fixed r5, every rep now pays full "
                    "cost — A/B min-of-3 at sf1: localCheckpoint 5.65s "
                    "vs leak-free persist 7.62s"
                )
            },
            "queries": sf1_times,
            "queries_sf0.1_same_session": base_times,
            "scaleup_ratio": {
                q: round(sf1_times[q] / base_times[q], 2)
                for q in SCALEUP_QUERIES
                if base_times[q] > 0
            },
            # steady-state ingest: a FIXED 10% batch probed against LSH
            # band indexes covering 20%/50%/90% of the corpus — flat
            # timings across index sizes are the incremental contract
            # (cost tracks the batch, never the index). The streaming
            # ingest query (q_stream_dedup_ingest) composes this same
            # probe per micro-batch via foreachBatch, so the flat curve
            # covers its steady-state cost too, modulo parquet-append
            # overhead.
            "incremental_ingest": incr,
            # star-contraction components over the real sf1 pair set:
            # `rounds` substantiates the O(log n) convergence claim
            "star_components": star,
            # sustained pipeline throughput at 1M events (the sf0.1
            # number is fixed-overhead-dominated at 100k rows)
            "pipeline": pipe_sf1,
        }
        # corpus-assembly family at sf1 + the deliberately hot-domain
        # variant (one source owning 50% of docs): substantiates the
        # grouped-prefix-sum / two-stage-rank skew claims with numbers
        detail["sf1"]["corpus_assembly"] = bench_corpus_scaleup(
            spark, sf_dir, sf1_dir, n_runs
        )

    with open(os.path.join(REPO, detail_name), "w") as fh:
        json.dump(detail, fh, indent=1)
    sys.stderr.write(f"[bench] extended sections -> {detail_name}\n")
    # final stdout line = the compact artifact (driver tail contract)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()

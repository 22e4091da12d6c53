"""Plan-quality checker: asserts the physical-plan invariants that keep
queries viable at 100 TB.

- No CartesianProduct / BroadcastNestedLoopJoin except in queries that are
  cross products by definition (cross join, all-pairs similarity).
- Parquet scans read pruned schemas (no SELECT * scans).
- Filter queries push predicates into the scan (PushedFilters non-empty).
- Shuffle budgets: selected plans must not exceed their designed Exchange
  count (a silent extra shuffle is the costliest regression at 100 TB).
- Python-stage budgets: the vector/embedding plans must not exceed their
  count of JVM<->Python Arrow stages.
- No runtime bloom-filter subqueries (``might_contain``) in any plan.

Usage: python tools/plancheck.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries whose semantics ARE a cross product (bounded small sides).
CROSS_OK = {
    "q_join_cross",
    # 1-row global-total broadcast joined without a key — nested-loop
    # over a single broadcast row is the intended scalar-attach shape
    "q_sample_temperature",
    "q_sim_cosine",
    "q_sim_topk",
    "q_dedup_embedding",
    "q_dedup_ngram_jaccard",
    "q_join_theta",  # inequality-only residual after tiny-dim equi part
    # Single-ROW broadcast (scalar subquery shape): crossJoin of a 1-row
    # aggregate (doc count / time bounds). O(rows × 1), safe at any scale
    # — not an all-pairs product.
    "q_text_tfidf",
    "q_timeseries_gapfill",
    "q_sim_ivf_kmeans",  # 1-row broadcast centroid array (k-means state)
    "q_heavy_hitters",  # 1-row broadcast total-count (threshold scalar)
    "q_text_unigram_logprob",  # 1-row broadcast LM total (scalar attach)
    "q_text_bigram_logprob",  # 1-row broadcast vocab size (scalar attach)
    "q_sim_text_topk",  # broadcast bounded probes x corpus scan (topk shape)
    # 1-row broadcast codebook/centroid/LUT rows (k-means state + the
    # probe LUT attach — probes are a bounded broadcast side by design)
    "q_sim_pq",
    "q_sim_ivfpq",
    # 1-row broadcast quantizer (min/span arrays) + bounded broadcast
    # probes x code scan — the same topk shape as q_sim_pq
    "q_sim_sq8",
    "q_corpus_mix",  # 1-row broadcast score total (scalar attach)
    # 3-row broadcast epoch table x corpus scan — the per-epoch key
    # fan-out is the operator's semantics, O(rows x epochs)
    "q_epoch_order",
}

# Queries where a full-schema scan is the point (unpivot of many columns,
# pipeline replays that forward whole records).
FULL_SCAN_OK = {"q_scan_json_lines"}

PUSHDOWN_REQUIRED = {
    "q_scan_parquet",
    "q_filter",
    "q_join_inner",
    "q_subquery_in",
    # the r10 maintenance promotions: the post-rewrite read-back MUST
    # push its range predicates into the rewritten scratch table — a
    # rewrite whose reader can't push down defeats its own purpose
    "q_zorder_rewrite",
    "q_skipping_prune",
}

# Queries whose filter must prune PARTITIONS (directory-level skip), not
# merely push into the row-group reader.
PARTITION_PRUNE_REQUIRED = {"q_scan_partitioned"}

# Queries whose registration calls fan_out_scan (sources/tables.py):
# their plans may carry the fan-out exchange when the checked SF's
# scan is coarser than the session's slots (sf0.1's one-row-group
# files). Keyed-exchange budgets still apply to them unchanged; only
# the fan-out's own signature is exempt. Since r17 the fan-out
# repartitions by the self-identifying deterministic key
# xxhash64('fan-out', <table key>) instead of round-robin (skips the
# mandatory sort-before-repartition on the serial scan task,
# SPARK-23207; guide §2.5's deterministic-key rule), so the exempt
# signature is hashpartitioning(xxhash64(fan-out, ...), slots) tagged
# REPARTITION_BY_NUM — a stray .repartition(n) at any other width or
# key is flagged even inside this set, and ANY round-robin exchange
# anywhere is flagged (no registered plan round-robins any more).
FAN_OUT_OK = {
    "q_agg_group",
    "q_join_multiway",  # r17 adoption (pre-joined dim + keyed fan-out)
    "q_agg_percentile",  # r12 adoption (r11 A/B 0.90)
    "q_dedup_near",
    "q_dedup_near_capped",
    # r17 adoptions: the operators' consume-once checkpoints freeze the
    # scan's partitioning, so the one-row-group bench scan serialized
    # the Arrow embed/signature/assignment stages at 1 task
    "q_dedup_embedding_lsh",
    "q_dedup_embedding_lsh_capped",
    "q_dedup_semantic",
    "q_dedup_semantic_ingest",
    "q_sim_topk",
    "q_text_decontaminate",
    "q_text_decontaminate_spans",  # r17 adoption (profile: 6.0 of 6.4 cpu-sec on one task)
    "q_text_repetition",  # r17 adoption (interleaved A/B 3.35 -> 0.98 s)
    "q_text_langid",
    "q_text_quality",
    "q_text_repeated_spans",
    "q_window_rank",  # r12 adoption (r11 A/B 0.75)
    # r17 adoptions (5-rep interleaved A/B, OPTIMIZATION_r17.md #11):
    # full-pass PQ/residual encodes above the serial one-row-group scan
    "q_sim_pq",
    "q_sim_ivfpq",
}

# Shuffle budgets: the number of Exchange nodes these plans are DESIGNED
# to have (docstring claims, enforced). A refactor that sneaks in an extra
# shuffle — the dominant cost at 100 TB — fails here, not in production.
MAX_EXCHANGES = {
    # r10 maintenance promotions — the budget covers the RETURNED plan
    # (the post-rewrite read-back; the rewrite stages' physical claims
    # are pytest-pinned in tests/test_maintenance.py etc.): the whole
    # point of compact/zorder/skip is that the subsequent read is a
    # bare pruned scan, so any Exchange appearing there is a regression
    "q_compact_cluster": 0,
    "q_zorder_rewrite": 0,
    "q_skipping_prune": 0,
    "q_shard_manifest": 0,  # manifest is pre-aggregated by the writer
    # 3-delta ingest + compaction feed a (doc x line-hash) join + per-doc
    # agg: one shuffle each
    "q_line_index_incremental": 2,
    "q_pipeline_e2e": 1,  # the dedup window; later stages narrow
    "q_agg_group": 2,  # partial+final hash aggregate + presentation sort
    "q_histogram": 1,  # single hash aggregate on bin key
    "q_agg_argmax": 1,  # single hash aggregate
    "q_dedup_exact": 1,  # one shuffle on content digest
    "q_text_chunks": 0,  # narrow 1->N explode, scan speed
    "q_text_redact": 0,  # narrow projection
    "q_embed_quantize": 0,  # narrow array math
    "q_scan_parquet": 0,
    "q_projection": 0,
    "q_filter": 0,
    "q_funnel": 2,  # one O(events) shuffle on user_id + final scalar rollup
    # dedup partial-agg + distinct-users (small) + 1-row bounds + as-of
    # window over grid∪events: only the first and last move O(rows).
    "q_timeseries_gapfill": 4,
    "q_join_range_bucket": 2,  # bucket-pair equi-join + presentation sort
    # MG candidates distinct (small) + post-partial count agg + 1-row total
    "q_heavy_hitters": 3,
    # range exchange + tiny offsets rollup (checkpoint barrier hides the
    # second consumer); id join is broadcast
    "q_doc_ids": 2,
    "q_window_time_range": 1,  # one user_id shuffle, like every window
    # broadcast dims + one fact agg shuffle; top-10 is TakeOrderedAndProject
    "q_sql_interface": 2,
    # fact-fact shuffle pair; dims broadcast (VERDICT r3 allowed 3; plan
    # holds 2 at the checked sf)
    "q_join_multiway": 2,
    # union two-sided repartition-by-key + presentation sort
    "q_join_asof": 2,
    # Two exchanges BY DESIGN since r7: stage 1 hashes on
    # (spark_partition_id, flag) for the partition-local top-10 (the
    # flag key alone has cardinality 3 — one reducer per flag would
    # sort the whole table at parallelism 3), stage 2 ranks the bounded
    # survivor set on flag. See q_window_rank's docstring for numbers.
    "q_window_rank": 2,
    # per-partition pre-prune + per-probe rank + presentation sort;
    # probes ride a 1-row-ish broadcast, so only small aggregates move
    "q_sim_topk": 2,
    # Bucket-local candidate kernel (dedup._bucket_pairs): no barrier
    # truncates these plans, so the count covers the whole candidate
    # path — the per-doc signature aggregate (MinHash/SimHash), ONE
    # shuffle on the bucket key (pairs are built inside each bucket,
    # capped or not), the candidate distinct and the verify/presentation
    # stages. Counted at plancheck's own sf/config; growth means a
    # corpus-scale shuffle re-entered the candidate path.
    "q_dedup_near": 4,
    "q_dedup_near_capped": 4,
    "q_dedup_simhash": 4,
    "q_dedup_simhash_capped": 4,
    "q_dedup_editdist": 2,
    "q_dedup_embedding_lsh": 3,
    "q_dedup_embedding_lsh_capped": 3,
    # Connected components (dedup.connected_components): the returned
    # plan is what the rounds leave behind. Under the local union-find
    # gate it is a driver-built (id, cluster_id) frame — no Exchange,
    # plus keep_best's cluster_id window; forced through the star loop
    # (q_dedup_clusters_star) it is the nodes distinct + the roots
    # re-attach join over the checkpointed converged edges.
    "q_dedup_clusters": 0,
    "q_dedup_clusters_star": 2,
    "q_dedup_keep_best": 1,
    # batch digest canonicalization agg + one digest join pair; the
    # incremental contract is that cost tracks the batch, so any extra
    # corpus-scale Exchange is a design regression
    "q_dedup_exact_incremental": 2,
    # The batch-scaling contract of the probe plan as a budget: batch
    # signature agg, within-batch band grouping + distinct, index-probe
    # band equi-join + distinct, verification over the batch shingles
    # plus the candidate index docs (the corpus re-shingle rides a
    # left-semi pushdown into the corpus, so only candidate-sized sides
    # shuffle) + intersection agg + presentation sort. Every one of
    # the 12 moves batch/candidate-sized data — an Exchange beyond this
    # means a corpus-scale shuffle snuck into the ingest path.
    "q_dedup_incremental": 12,
    "q_text_repetition": 0,  # per-row JVM gram math, scan speed
    # corpus-wide digest count agg + digest join-back + source rollup —
    # the exact-dedup two-shuffle shape plus one; a 4th Exchange means
    # the digest join stopped reusing the agg partitioning
    "q_corpus_report": 3,
    # broadcast eval shingles (map-side join) + per-doc matched-position
    # agg + its join-back; the surgery itself is narrow — a 3rd Exchange
    # means the eval side stopped broadcasting
    "q_text_decontaminate_spans": 2,
    # quantizer fit: ONE (pos)-keyed min/max agg (dim x partitions rows
    # after map-side combine) + its 1-row rollup + re-rank candidate
    # join; encode/score are exchange-free broadcast expressions
    "q_sim_sq8": 3,
    # broadcast eval-set shingles (map-side hash join) + overlap count agg
    # + per-doc argmax window; a 3rd Exchange would mean the benchmark
    # side stopped broadcasting — the scale contract of decontamination
    "q_text_decontaminate": 2,
    # running_total's two-phase prefix sum: range exchange + per-physical-
    # partition window exchange (both 16-byte rows) + tiny offsets rollup;
    # a 4th Exchange means the single-reducer global window crept back
    "q_pack_sequences": 3,
    # one corpus agg keyed by source, then only O(domains) rows move
    # (score snap + 1-row total broadcast)
    "q_sample_temperature": 3,
    # line-hash count agg (+ broadcast count join at checked sf) + per-doc
    # rollup; at corpus scale the cnt join becomes a shuffle join that
    # REUSES the agg's h-partitioning, so the budget stays the contract
    # that no exchange beyond {h, doc_id} keys exists
    "q_text_boilerplate": 3,
    # span-hash count agg + report join pair — all rows (hash, long)
    # narrow; a 4th Exchange means the join stopped reusing the agg keys
    "q_text_repeated_spans": 3,
    # token-count agg + token-keyed join pair + 1-partition LM total +
    # per-doc rollup (+ AQE reuse) — every row token- or doc-keyed and
    # narrow; more means a corpus-width shuffle crept into the scorer
    "q_text_unigram_logprob": 6,
    # pair-key LM agg + model-sized w1 window + ONE (w1,w2) scoring join
    # pair + 1-partition vocab + per-doc rollup. Tightened r8 (9 -> 7):
    # cnt1 folds into the LM at train time, removing the second shuffle
    # of the EXPLODED table on the Zipf-skewed bare-w1 key; an 8th
    # Exchange means that skewed join crept back (operators/text.py)
    "q_text_bigram_logprob": 7,
    # PQ training included: per-subspace k-means mean updates (posexplode
    # + (cluster, dim) aggregates — KB-sized after map-side combine) plus
    # the re-rank candidate join; the corpus-scale path (encode + code
    # scan) is exchange-free by design, so growth here means either an
    # extra Lloyd shuffle or the re-rank join going corpus-sized
    # (tightened r6: grouped k-means shares init/Lloyd passes across all
    # m subspaces, so training's exchange count stopped scaling with m —
    # 12 -> 7 and 19 -> 10 measured; growth past these means an extra
    # Lloyd shuffle or the re-rank join going corpus-sized)
    "q_sim_pq": 7,
    "q_sim_ivfpq": 10,
    # k-means IVF: training runs on the driver before the plan exists
    # (the bounded-sample path), so these are the two single-partition
    # centroid-row aggregates (corpus and probe branch), the two-stage
    # rank and the presentation sort — 5 at sf0.001, sf0.01 and sf0.1;
    # a 6th means a Lloyd shuffle or a corpus-sized exchange reached
    # the probe plan
    "q_sim_ivf_kmeans": 5,
    # two-stage per-domain rank: (source, input-partition) window + final
    # (source) window over <= cap x partitions rows; a 3rd Exchange means
    # the partial stage stopped pruning or a sort snuck in
    "q_domain_cap": 2,
    # pure hash expression at scan speed — any Exchange is a regression
    "q_split_assign": 0,
    # embedding is per-row JVM array math — scan speed, no Exchange
    "q_text_hash_embed": 0,
    # frozen-weights inference: literal dot product at scan speed
    "q_quality_classifier": 0,
    # the q_sim_topk two-stage rank shape over hashed-text embeddings
    "q_sim_text_topk": 2,
    # mixture realization: range exchange + local-window exchange (the
    # grouped two-phase prefix sum, both O(rows) narrow) + per-source
    # aggregate pair + tiny offsets/budget rollups; more means the
    # per-domain window collapsed back to a single-reducer plan
    "q_corpus_mix": 6,
    # bucketed layout: SMJ + groupBy both satisfied by the bucket spec
    # straight off the scan — ANY Exchange is the regression this entry
    # exists to catch (the write-time layout prepaid the shuffle)
    "q_join_bucketed": 0,
    # read-back of the merged table: a narrow projection scan; the merge
    # itself (broadcast anti join + union + swap) runs eagerly inside
    # the query fn and is budget-checked by its own plan assert in tests
    "q_upsert_merge": 0,
    # Efraimidis-Spirakis selection is TakeOrderedAndProject over a JVM
    # key at scan speed — any Exchange means a global sort crept in
    "q_sample_weighted": 0,
    # text round-trip: fixture write is eager; the checked read path is
    # a narrow split/cast projection at scan speed
    "q_scan_text": 0,
    # semantic dedup tail (train/assign are checkpointed jobs): ONE bkt
    # shuffle feeding the per-cluster matmul + presentation sort; the
    # hot-cluster cap is a size check inside the kernel, so a 3rd
    # Exchange means a count-and-join cap (or another shuffle) crept in
    "q_dedup_semantic": 2,
    # ingest tail: touched-cluster distinct + bkt grouping +
    # presentation sort, all batch/candidate-sized; growth means a
    # corpus-scale shuffle (or a count-and-join cap) entered the ingest
    # path
    "q_dedup_semantic_ingest": 3,
    # retention tail over the checkpoint-backed components: quality
    # join rides a broadcast at the fixture bound, ONE cluster_id
    # window exchange remains
    "q_dedup_semantic_keep_best": 1,
    # protocol sim: result is 36 collected rows; the single Exchange is
    # the presentation sort
    "q_group_rebalance": 1,
}

# Python-stage budgets: ArrowEvalPython + FlatMapGroupsInPandas +
# MapInPandas nodes per plan. Each one is a JVM<->Python Arrow round trip
# in every task; the vector operators build theirs through one helper
# (operators/similarity.py:_vector_udf), so a new stage in one of these
# plans is a design change that must move its budget here. Stages behind
# an eager checkpoint run while the query is built and do not show.
MAX_PYTHON_STAGES = {
    "q_text_hash_embed": 1,  # the md5 Arrow embed
    "q_sim_text_topk": 2,  # the embed, once per probe and corpus branch
    # the cosine verify; embed + signatures sit behind the checkpoint
    "q_dedup_embedding_lsh": 1,
    "q_dedup_embedding_lsh_capped": 1,
    "q_dedup_semantic": 1,  # the per-cluster matmul (applyInPandas)
    "q_dedup_semantic_ingest": 1,
    "q_dedup_semantic_keep_best": 0,
    "q_sim_ivf_kmeans": 0,
    "q_sim_pq": 0,
    "q_sim_ivfpq": 0,
}
_PYTHON_STAGE = r"^\(\d+\) (?:ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)\b"

# Runtime bloom filters: InjectRuntimeFilter plans a might_contain
# subquery into a join's consumer when the other side's size estimate
# looks large. A Project over a parallelize-built model frame (whose
# size Spark does not know) turns the unknown into ~7.7e18 bytes and
# sets this off: each filter is one more subquery over the model and
# its exchanges. No registered plan is designed to carry one, so the
# budget is 0 for every plan.
_BLOOM_FILTER = "might_contain("

# Per-round Exchange budgets for the large-star/small-star contraction
# (operators/dedup.py:star_round) — the registered q_dedup_clusters_star
# plan is localCheckpoint-truncated, so the shape that actually repeats
# O(log n) times must be budgeted on the operator directly: neighborhood-
# min hash aggregate + re-attach join + canonical distinct per phase,
# with a materialization barrier between phases so the large-star subtree
# is not executed twice by the small-star's two consumer branches.
STAR_ROUND_BUDGET = {"large_star": 3, "small_star": 4}


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from kafka_map_reduce_spark import get_session
    from kafka_map_reduce_spark.registry import all_queries

    spark = get_session("plancheck", master="local[4]", shuffle_partitions=4)
    bad = 0
    for name, spec in sorted(all_queries().items()):
        if "streaming" in spec.tags:
            continue  # live streaming queries execute, not plan-only
        try:
            plan = plan_of(spec.fn(spark, sf_dir))
        except Exception as e:
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:150]}")
            bad += 1
            continue
        problems = []
        if name not in CROSS_OK and (
            "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        ):
            problems.append("unexpected cartesian/nested-loop join")
        if name in PUSHDOWN_REQUIRED and "PushedFilters: []" in plan:
            problems.append("no predicates pushed to scan")
        if name in PARTITION_PRUNE_REQUIRED and "PartitionFilters: []" in plan:
            problems.append("partition filter not pruned to directories")
        # fan_out_scan (sources/tables.py, r11; keyed since r17) adds
        # ONE gated exchange when the scan has fewer splits than slots
        # (the one-row-group small-file regime; structurally absent at
        # corpus scale where splits >= slots). Catalyst replicates it
        # into every consumer branch of the scan subtree, so it can
        # appear several times. The shuffle budget polices KEYED
        # (hash/range) exchanges — the corpus-scale cost — so ONLY the
        # fan-out's exact signature (hashpartitioning over the
        # self-identifying xxhash64('fan-out', ...) at
        # defaultParallelism, REPARTITION_BY_NUM) is excluded from the
        # count, and only for queries that declare fan-out; any other
        # repartition — a different width, a different key, or any
        # round-robin anywhere — is still the regression this check
        # exists to catch.
        slots = spark.sparkContext.defaultParallelism
        n_rr_all = len(re.findall(r"Arguments: roundrobinpartitioning", plan, re.I))
        if n_rr_all:
            problems.append(
                f"{n_rr_all} round-robin exchange(s) — no registered plan "
                "round-robins (the r17 fan-out is keyed)"
            )
        n_fan = len(
            re.findall(
                rf"Arguments: hashpartitioning\(xxhash64\(fan-out, [^)]*\), "
                rf"{slots}\), REPARTITION_BY_NUM",
                plan,
                re.I,
            )
        )
        n_fan_stray = n_fan if name not in FAN_OUT_OK else 0
        if n_fan_stray:
            problems.append(
                f"{n_fan_stray} fan-out exchange(s) in a query outside the "
                "declared fan-out set"
            )
        if name in MAX_EXCHANGES:
            # formatted explain lists each node twice (tree + details);
            # count the numbered detail headers only
            n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
            n_keyed = n_ex - (n_fan if name in FAN_OUT_OK else 0)
            if n_keyed > MAX_EXCHANGES[name]:
                problems.append(
                    f"{n_keyed} keyed shuffles in plan, budget {MAX_EXCHANGES[name]}"
                )
        if name in MAX_PYTHON_STAGES:
            n_py = len(re.findall(_PYTHON_STAGE, plan, re.M))
            if n_py > MAX_PYTHON_STAGES[name]:
                problems.append(
                    f"{n_py} Python stages in plan, budget "
                    f"{MAX_PYTHON_STAGES[name]}"
                )
        n_bloom = plan.count(_BLOOM_FILTER)
        if n_bloom:
            problems.append(f"{n_bloom} runtime bloom-filter predicate(s), budget 0")
        if problems:
            print(f"FAIL {name}: {problems}")
            bad += 1

    # star-contraction per-round shape (see STAR_ROUND_BUDGET comment)
    from kafka_map_reduce_spark.operators import dedup as D

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    phases = {
        "large_star": D._large_star(edges),
        "small_star": D._small_star(
            D._large_star(edges).localCheckpoint(eager=True)
        ),
    }
    for phase, df in phases.items():
        n_ex = len(re.findall(r"^\(\d+\) Exchange", plan_of(df), re.M))
        if n_ex > STAR_ROUND_BUDGET[phase]:
            print(
                f"FAIL star_round/{phase}: {n_ex} shuffles in plan, "
                f"budget {STAR_ROUND_BUDGET[phase]}"
            )
            bad += 1
    print(f"\nplancheck: {bad} problem(s)")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

"""Similarity search over embedding columns (Tier C, SURVEY §2.2).

- ``cosine``: pure JVM expression (zip_with + sequential fold) — the dot
  product stays inside whole-stage codegen; no Python, no UDF.
- brute-force top-k: broadcast the (small) probe set against the corpus
  scan; per-probe top-k via ranked window. One corpus scan regardless of
  probe count — the right baseline at 100 TB.
- IVF-style ANN: deterministic hyperplane-sign coarse quantizer (8 sign
  bits -> 256 buckets); probes only search their bucket, cutting the
  scanned fraction ~256x at the cost of recall (standard IVF trade).
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from kafka_map_reduce_spark.functions import round4


def _fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum of array<double> — matches DuckDB's
    list_dot_product evaluation order for bit-identical results."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns (JVM-side)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = _fold_sum(F.zip_with(ad, bd, lambda x, y: x * y))
    na = F.sqrt(_fold_sum(F.zip_with(ad, ad, lambda x, y: x * y)))
    nb = F.sqrt(_fold_sum(F.zip_with(bd, bd, lambda x, y: x * y)))
    # Zero-norm guard matching every DuckDB oracle's greatest(.., 1e-12):
    # without it a zero embedding (e.g. hash-embed of empty text) yields
    # NaN, and Spark sorts NaN LARGEST, so it would rank FIRST in
    # ranked_topk's desc order while the oracle ranks it last.
    return dot / F.greatest(na * nb, F.lit(1e-12))


def ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-probe top-k from a (probe_id, neighbor_id, sim) scored set,
    scale-safe.

    A single ``Window.partitionBy(probe_id)`` rank shuffles EVERY scored
    row to the one reducer owning its probe — with a 100 TB corpus and few
    probes, a handful of tasks sort the world. Instead: stage 1 takes each
    *input partition's* top-k per probe (keys spread evenly across
    reducers, output bounded at partitions x probes x k — the partial
    TakeOrdered), stage 2 ranks that small survivor set per probe. Any
    global top-k row is necessarily in its partition's top-k, and ties
    break on neighbor_id in both stages, so the result is identical to
    the one-window form.
    """
    w1 = Window.partitionBy("__pid", "probe_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    pruned = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k)
        .drop("__pid", "__r")
    )
    w2 = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            "neighbor_id",
            round4(F.col("sim")).alias("sim"),
            "rank",
        )
    )


def brute_force_topk(
    probes: DataFrame, corpus: DataFrame, k: int, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per probe: broadcast probes x corpus scan."""
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"))
    scored = c.crossJoin(F.broadcast(p)).withColumn(
        "sim", cosine(F.col("probe_vec"), F.col("vec"))
    )
    return ranked_topk(scored, k)


def sign_bucket(vec_col: Column, bits: int = 8) -> Column:
    """Deterministic IVF coarse quantizer: sign bits of the first dims."""
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(F.element_at(vec_col, i + 1) > 0, F.lit(2**i)).otherwise(0)
    return b.cast("int")


def ivf_topk(
    probes: DataFrame, corpus: DataFrame, k: int, vec_col: str = "embedding",
    id_col: str = "vec_id", bits: int = 8,
) -> DataFrame:
    """Approximate top-k: equi-join probes to corpus on the coarse bucket
    (shuffle on bucket id, not a cross product), rank within bucket."""
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        sign_bucket(F.col(vec_col), bits).alias("bkt"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        sign_bucket(F.col(vec_col), bits).alias("bkt"),
    )
    scored = c.join(F.broadcast(p), "bkt").withColumn(
        "sim", cosine(F.col("probe_vec"), F.col("vec"))
    )
    return ranked_topk(scored, k)


# ---- IVF with a TRAINED coarse quantizer (Lloyd k-means, DataFrame-only) ----


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


# ---- Arrow vector stages ----------------------------------------------------
# Every numpy pandas UDF of the vector operators is built by _vector_udf:
# the operator writes a plain numpy kernel, the helper owns the Arrow <->
# numpy format, the empty-batch rule and null rows.

_NUMPY_DTYPES = {"int": "int32", "bigint": "int64", "double": "float64"}


def _kernel_input(col: pd.Series):
    """array<double> column -> float64 (n, dim) matrix; strings pass."""
    if isinstance(col.iloc[0], str):
        return col
    return np.array(col.tolist(), dtype=np.float64)


def _udf_output(dt, out, null: np.ndarray):
    """Kernel result -> the pandas shape Arrow takes for ``dt``: a list
    column for an array type, a typed column for a scalar, a frame for a
    struct (``out`` then a dict by field name). ``out`` covers the
    non-null rows in order (None if there are none); rows flagged in
    ``null`` come back null."""
    if isinstance(dt, StructType):
        return pd.DataFrame(
            {
                f.name: _udf_output(
                    f.dataType, None if out is None else out[f.name], null
                )
                for f in dt.fields
            }
        )
    if out is None:
        out = []
    elif isinstance(dt, ArrayType):
        out = list(out)  # one row of the 2-D result per list cell
    col = pd.Series(out, dtype=_NUMPY_DTYPES.get(dt.simpleString(), object))
    if not null.any():
        return col
    it = iter(col.tolist())
    return pd.Series([None if n else next(it) for n in null], dtype=object)


def _vector_udf(return_type: str, kernel):
    """Arrow pandas UDF over ``kernel``, a plain numpy function: each
    array<double> argument arrives as one float64 ``(n, dim)`` matrix
    (string arguments as the pandas column), and the kernel returns a
    2-D array for an array type, a 1-D array for a scalar, or a dict of
    those by field name for a struct. A row with any null argument
    never reaches the kernel and comes back null; a batch with no other
    rows (a zero-row batch included) returns the typed empty or null
    result without calling it.

    The stage stays deterministic: a nondeterministic flag here would
    stop filters from being pushed below it, and q_sim_text_topk's probe
    branch then embedded all 120 bounded docs instead of its 10 probes.
    A caller that needs the flag sets it (:func:`cosine_pairs_arrow`)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import _parse_datatype_string

    dt = _parse_datatype_string(return_type)

    def stage(*cols: pd.Series) -> pd.Series:
        null = np.zeros(len(cols[0]), dtype=bool)
        for c in cols:
            null |= c.isna().to_numpy()
        if null.all():
            return _udf_output(dt, None, null)
        if null.any():
            cols = tuple(c[~null] for c in cols)
        return _udf_output(dt, kernel(*map(_kernel_input, cols)), null)

    return pandas_udf(stage, dt)


def _sign_pack(V, H, bits: int):
    """Hyperplane signatures of the rows of ``V``: bit j of table t is
    (v . H[:, t*bits + j]) > 0 — strict, matching the JVM
    :func:`hyperplane_bucket` — packed into one int64 per table."""
    b = (V @ H) > 0
    pow2 = 2 ** np.arange(bits, dtype=np.int64)
    return (b.reshape(len(V), -1, bits) * pow2).sum(axis=2).astype(np.int64)


def _unit(V):
    """Row-wise L2 normalize, zero-norm guard 1e-12 (cosine's)."""
    return V / np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-12)[:, None]


def _l2sq_sql(a: str, b: str) -> str:
    """Squared L2 distance of two array<double> SQL expressions: a
    zip_with + sequential fold (codegen, JVM-side), built in one parser
    call (r17 parsed-expr treatment — see minhash_signatures). The fold
    adds dims in ascending order from `0.0D`, a DoubleType zero."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _nearest_sql(vec: str, cents: str) -> str:
    """struct(d, cid) of the nearest centroid from a broadcast centroid
    array (see :func:`_centroid_row`) — argmin computed INLINE per row
    (array_min over k candidates, lowest cid wins a tie), so assignment
    needs no join, no window, no shuffle."""
    return (
        f"array_min(transform({cents}, c -> "
        f"struct({_l2sq_sql(vec, 'c.centroid')} AS d, c.cluster_id AS cid)))"
    )


def _probe_sql(vec: str, nprobe: int) -> str:
    """The coarse probe: the ``nprobe`` nearest buckets of ``vec`` as
    struct(d, cid, cent) from the broadcast ``__cents`` row, nearest
    first. Cluster ids are unique, so ``cent`` never decides the
    order."""
    return (
        f"slice(array_sort(transform(__cents, c -> struct("
        f"{_l2sq_sql(vec, 'c.centroid')} AS d, c.cluster_id AS cid, "
        f"c.centroid AS cent))), 1, {nprobe})"
    )


def _centroid_row(cents: DataFrame) -> DataFrame:
    """One broadcastable row: ``__cents``, the array of (cluster_id,
    centroid) structs of a coarse model — what :func:`_nearest_sql` and
    :func:`_probe_sql` read."""
    return cents.agg(
        F.collect_list(F.struct("cluster_id", "centroid")).alias("__cents")
    )


# Above this many centroids the JVM argmin (array_min over a transform
# of the broadcast centroid array) leaves codegen territory: HOF lambda
# bodies are INTERPRETED, so assignment costs ~k x dim interpreted ops
# per row — measured as a wall at k=2000/sf10 (the r7 semantic-dedup
# scale run did not finish in 25 min; the Arrow path below finishes the
# same assignment in seconds). Same diagnosis and cure as the r6
# hyperplane-signature matmul.
_ARROW_ASSIGN_MIN_K = 64


# One-matmul vs tiled boundary for the flat Arrow argmin (see
# _assign_arrow): at or below this k the B x k tile is <= ~328 MB per
# 10k-row Arrow batch and the kernel keeps the exact historical floats;
# above it the tile would not fit (k=2^15 -> 2.6 GB/batch/worker) and
# the blocked form takes over. Sits above every hash-pinned and gated
# model and above _ROUTED_ASSIGN_MIN_K (full-corpus assigns route
# before they ever reach a big-k flat tile); only trainer-internal
# Lloyd passes and 100x witnesses cross it.
_FLAT_ONE_TILE_MAX_K = 4096


def _assign_arrow(cents_rows, sc=None):
    """Arrow UDF factory: nearest-centroid id for array<double> vectors
    via ONE numpy matmul per Arrow batch (||v-c||^2 = |v|^2 - 2 v.C^T +
    |c|^2). ``cents_rows`` is the collected (cluster_id, centroid) list
    — k x dim doubles. With ``sc`` (a SparkContext — every operator call
    site passes it) the model ships as an EXPLICIT ``sc.broadcast``: the
    UDF closure carries only the broadcast handle, so the k x dim matrix
    crosses the wire once per executor (torrent broadcast, cached across
    every consuming stage and Lloyd iteration) instead of riding the
    pickled task binary of each stage — by the operators' own sizing
    rule k grows with the corpus (k≈N/250), so at 100x data with
    production dims the closure form re-serializes hundreds of MB per
    iteration x stage. Measured at the registered k=2000/dim=32
    operating point (full q_dedup_semantic at sf10 = 500k docs,
    interleaved min-of-2, warm session): closure 29.17 s -> broadcast
    28.62 s — neutral-to-slightly-better while the model is ~0.5 MB;
    the hoist is structural insurance for the regime the sizing rule
    implies (k=2e5 x dim=768 = 1.2 GB model), where per-stage closure
    reshipping is a hard wall. The returned UDF exposes the handle as
    ``assign._kmr_broadcast``; terminal call sites leave it to the
    closure-held handle + ContextCleaner, while the Lloyd loop
    (kmeans_fit_grouped, whose :func:`_assign_grouped` stage ships the
    same model per group) unpersists its broadcast after each
    iteration's materialization barrier (unpersist is re-fetchable in
    Spark, destroy is not — only unpersist is ever called).
    ``sc=None`` keeps the closure form — the bit-parity twin pytest
    pins against (tests/test_semantic_dedup.py).

    Centroids sorted by cluster_id so argmin's first-minimum tie-break
    matches the JVM struct-min (lowest cid wins); distances are float64
    matmuls, so a knife-edge tie at the last ulp could in principle
    assign differently than the JVM fold — acceptable for the rows-only
    trained-model operators that use this path.

    Blocked distance tile above k=4096 (r12, found by the k-cap
    boundary witness): a single B x k float64 matrix is 2.6 GB per
    Arrow batch per worker at k=2^15 — the above-cap trainer sizing
    OOM-killed the whole host the first time it was ever executed (the
    k-cap policy shipped in r11 with only below-cap runs). For
    k > _FLAT_ONE_TILE_MAX_K the argmin streams over centroid blocks
    sized to a ~64 MB tile with a running (best_d2, best_idx): strict
    less-than cross-block updates preserve first-minimum tie-breaks,
    and peak transient memory becomes k-independent. For
    k <= _FLAT_ONE_TILE_MAX_K the ONE-matmul form is kept verbatim —
    NOT as an optimization but as a bit-stability contract: BLAS gemm
    can produce last-ulp-different dot products for the same column at
    different offsets (measured: planted duplicate centroids differ at
    the 16th digit between the full call and a tile), so tiling is not
    bit-identical under exact ties, and every hash-pinned / gated model
    (k <= 2000; full-corpus assigns above 2048 take the ROUTED kernel)
    must keep the exact floats it has always produced. The tiled regime
    is reached only by big-k training and 100x witnesses — rows-only
    paths with pinned accuracy floors."""
    return _model_udf(_flat_nearest, _flat_model(cents_rows), sc)


def _flat_model(cents_rows):
    """(cids, C, |C|^2) of a collected centroid list, sorted by
    cluster_id — the model :func:`_flat_nearest` reads."""
    rows = sorted(cents_rows, key=lambda r: r["cluster_id"])
    cids = np.array([r["cluster_id"] for r in rows], dtype="int64")
    C = np.array([list(r["centroid"]) for r in rows], dtype="float64")
    return cids, C, (C * C).sum(axis=1)


def _model_udf(nearest, model, sc):
    """Arrow UDF vector -> ``nearest(V, *model)``: the model rides an
    explicit ``sc.broadcast`` (exposed as ``assign._kmr_broadcast``),
    or the closure when ``sc`` is None. One kernel body for both forms:
    it reads the model through ``.value``."""
    held = sc.broadcast(model) if sc is not None else SimpleNamespace(value=model)
    assign = _vector_udf("int", lambda V: nearest(V, *held.value))
    assign._kmr_broadcast = held if sc is not None else None
    return assign


def _flat_nearest(V, cids, C, cn):
    """Nearest-centroid id per row of ``V`` (see :func:`_assign_arrow`):
    one matmul up to _FLAT_ONE_TILE_MAX_K centroids, ~64 MB blocks with a
    running argmin above it."""
    k = C.shape[0]
    if k <= _FLAT_ONE_TILE_MAX_K:
        d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + cn[None, :]
        return cids[np.argmin(d2, axis=1)]
    vn = (V * V).sum(axis=1)[:, None]
    block = max(256, 8_000_000 // max(len(V), 1))  # ~64 MB tile
    best_d = np.full(len(V), np.inf)
    best_j = np.zeros(len(V), dtype=np.int64)
    rows_ix = np.arange(len(V))
    for s in range(0, k, block):
        d2 = vn - 2.0 * (V @ C[s : s + block].T) + cn[None, s : s + block]
        j = np.argmin(d2, axis=1)
        d = d2[rows_ix, j]
        upd = d < best_d
        best_d[upd] = d[upd]
        best_j[upd] = j[upd] + s
    return cids[best_j]


# Above this centroid count the one-level Arrow argmin's O(N*k) matmul
# becomes the semantic family's quadratic term (r9 sf100 decomposition:
# 34.5 s at N=5M, k=20,000 — crossing the linear embed pass around
# 1e7-1e8 docs), so _assign_model switches to the IVF-routed two-level
# argmin. The threshold sits ABOVE every correctness-gated and
# benchmarked k (sf0.01 keep-best k<=40, sf0.1 k<=200, sf10 scale rows
# k=2000) so all hash-pinned and bench rows keep the flat path
# bit-for-bit; only the 100x witnesses route.
#
# 4096 → 2048 (r11): at 5M docs the spread-init trainer COLLAPSES the
# requested k=20000 to ~4000 effective centroids — 96 short of the old
# threshold, so the production full-corpus assign silently kept the
# flat O(N·k) path the routing was built to replace (the r10 7.1 s
# routed number was a forced measurement, not the shipped plan). 2048
# routes the collapsed production model while still keeping every
# gated k and the sf10 scale rows (k=2000) on the flat kernel.
#
# r12 addendum: that "collapse" turned out to be the unsalted
# train-filter hash constraining the seedable buckets to k/gcd(mod, k)
# (see _hash_mod_filter) — with the salt, production k_eff tracks the
# requested k, which sits far above this threshold anyway; 2048 remains
# correct for both regimes.
_ROUTED_ASSIGN_MIN_K = 2048


def _route_structure(C, n_iters=5):
    """Driver-side mini k-means grouping the k centroids into ~sqrt(k)
    super-centroids: returns (G, members) where G is g x dim and
    members[j] holds the (cid-sorted) child indices of group j.
    Deterministic — stride init over the cid-sorted centroid matrix,
    fixed Lloyd count, empty groups dropped. O(k^1.5 * dim) numpy on a
    matrix that is already driver-resident (the collected model),
    KB-to-MB sized by the k≈N/250 rule."""
    k = C.shape[0]
    g = max(2, int(np.ceil(np.sqrt(k))))
    idx = np.minimum(np.arange(g) * max(1, k // g), k - 1)
    G = C[idx].astype("float64").copy()
    cn = (C * C).sum(axis=1)
    for _ in range(n_iters + 1):
        d2 = cn[:, None] - 2.0 * (C @ G.T) + (G * G).sum(axis=1)[None, :]
        a = np.argmin(d2, axis=1)
        for j in range(g):
            m = a == j
            if m.any():
                G[j] = C[m].mean(axis=0)
    # Re-fit the assignment against the FINAL G (ADVICE r10): the loop
    # updates G after computing `a`, so without this the routed kernel
    # would probe final super-centroids against one-iteration-stale
    # memberships, degrading routed-vs-flat agreement at the margins.
    d2 = cn[:, None] - 2.0 * (C @ G.T) + (G * G).sum(axis=1)[None, :]
    a = np.argmin(d2, axis=1)
    members = [np.where(a == j)[0] for j in range(g)]
    keep = [j for j in range(g) if len(members[j])]
    return G[keep], [members[j] for j in keep]


def _assign_arrow_routed(cents_rows, sc, nprobe=2):
    """Two-level (IVF-routed) nearest-centroid Arrow UDF: each vector
    argmins over the ~sqrt(k) super-centroids first, then over the
    children of its ``nprobe`` nearest groups — O(N * dim * (sqrt(k) +
    nprobe*k/sqrt(k))) instead of the flat kernel's O(N * dim * k).
    This is exactly what SemDeDup's own pipeline uses faiss IVF for:
    cluster assignment at k in the tens of thousands.

    APPROXIMATE at group boundaries (the true nearest child can live in
    a group the probe skipped — the epsilon-ball-at-the-border case the
    SemDeDup paper already accepts for the clustering itself); agreement
    with the flat kernel is pytest-pinned on planted-cluster and
    overlapping fixtures (tests/test_semantic_dedup.py). Only engaged
    above _ROUTED_ASSIGN_MIN_K via :func:`_assign_model`, so every
    hash-pinned row keeps the flat kernel. Determinism: the routing
    structure derives from the cid-sorted centroid matrix with stride
    init and a fixed Lloyd count, so full-build and incremental-ingest
    callers sharing frozen centroids assign identically."""
    return _model_udf(_routed_nearest, _routed_model(cents_rows, nprobe), sc)


def _routed_model(cents_rows, nprobe: int):
    """(cids, C, |C|^2, G, |G|^2, members, p) — the model
    :func:`_routed_nearest` reads."""
    cids, C, cn = _flat_model(cents_rows)
    G, members = _route_structure(C)
    p = min(nprobe, len(members))
    return cids, C, cn, G, (G * G).sum(axis=1), members, p


def _routed_nearest(V, cids, C, cn, G, Gn, members, p):
    """Nearest-centroid id per row of ``V`` among the children of its
    ``p`` nearest super-centroids (see :func:`_assign_arrow_routed`)."""
    # |v|^2 is constant per row: drop it from every argmin
    d1 = Gn[None, :] - 2.0 * (V @ G.T)
    if p >= d1.shape[1]:
        probe = np.argsort(d1, axis=1)
    else:
        probe = np.argpartition(d1, p - 1, axis=1)[:, :p]
    best_d = np.full(len(V), np.inf)
    best_cid = np.full(len(V), np.iinfo(np.int64).max, dtype="int64")
    for r in range(probe.shape[1]):
        col = probe[:, r]
        for j in np.unique(col):
            ridx = np.where(col == j)[0]
            ch = members[j]
            d2 = cn[ch][None, :] - 2.0 * (V[ridx] @ C[ch].T)
            loc = np.argmin(d2, axis=1)  # first min = lowest cid
            dmin = d2[np.arange(len(ridx)), loc]
            cand = cids[ch[loc]]
            upd = (dmin < best_d[ridx]) | (
                (dmin == best_d[ridx]) & (cand < best_cid[ridx])
            )
            bi = ridx[upd]
            best_d[bi] = dmin[upd]
            best_cid[bi] = cand[upd]
    return best_cid


def _assign_model(cents_rows, sc):
    """Pick the assignment kernel for a collected centroid model: the
    flat one-matmul Arrow kernel up to _ROUTED_ASSIGN_MIN_K centroids
    (bit-exact, covers every correctness-gated k), the IVF-routed
    two-level kernel above it (the 100 TB regime where O(N*k) is the
    family's quadratic wall — r9 verdict item #3). nprobe is 3: the
    sf100 skew table (SCALE_SPOT_r10) measured nprobe=3 at the
    same assign cost as 2 with materially less cluster-size skew
    (sum c_i^2 4.76e9 vs 4.82e9, max cluster 4.9k vs 6.4k) and higher
    flat-agreement (0.9996 vs 0.9977 on separated data) — strictly
    dominant, because the verify stage downstream is quadratic in
    cluster size."""
    return _model_udf(*_nearest_model(cents_rows), sc)


def _nearest_model(cents_rows):
    """(kernel, model) of :func:`_assign_model`'s choice."""
    if len(cents_rows) > _ROUTED_ASSIGN_MIN_K:
        return _routed_nearest, _routed_model(cents_rows, nprobe=3)
    return _flat_nearest, _flat_model(cents_rows)


_SEMANTIC_K_CAP = 32768


def semantic_model_params(
    n: int,
    target_cluster: int = 250,
    k_cap: int = _SEMANTIC_K_CAP,
    sample_per_centroid: int = 50,
    cap_ratio: int = 8,
) -> tuple:
    """Sizing policy for the SemDeDup family, in ONE place (r10 verdict
    item #4): returns (n_clusters, train_sample_mod, max_cluster_size)
    for a corpus of ``n`` vectors.

    k tracks the corpus (k = n / target_cluster) only up to ``k_cap``
    (default 2^15), then FREEZES — the SemDeDup paper's own LAION-scale
    practice (fixed cluster count, cluster size grows with the corpus).
    Why: the trainer samples ~sample_per_centroid vectors per centroid,
    so with k ∝ N Lloyd cost is O(N²/(target·sample⁻¹)) — the family's
    last quadratic term (SCALE_SPOT_r10 diagnosis: ~40-59 s at 5M docs,
    ~1 h at 50M). With k capped, the training sample is 50·k_cap
    regardless of corpus size: training cost becomes CONSTANT in N, and
    the one full assignment pass stays linear (IVF-routed above
    _ROUTED_ASSIGN_MIN_K, so it is O(N·√k), not O(N·k)).

    What the cap costs: above n = k_cap·target_cluster (~8.2M docs at
    the defaults) the expected cluster size grows as n/k_cap, so the
    within-cluster verify term is O(n²/k_cap) — quadratic again but
    with a 2^15 divisor, and the per-cluster work is one BLAS matmul
    (at 100M docs: avg cluster ~3k, ~9e6 dot products per cluster —
    milliseconds each). The hot-cluster governor must grow WITH the
    expected size or it would start dropping ordinary clusters to the
    exact-dedup path: max_cluster_size = cap_ratio × expected size,
    floored at 2000 — below the cap regime expected size is
    target_cluster, making the floor the historical 8×250 = 2000
    exactly, so every gated scale (and the 5M-doc witness) is
    bit-unchanged by this function existing."""
    k = max(8, min(n // target_cluster, k_cap))
    mod = max(1, n // (sample_per_centroid * k))
    max_cluster = max(2000, cap_ratio * max(1, n // k))
    return k, mod, max_cluster


def _hash_mod_filter(df: DataFrame, id_col: str, mod: int) -> DataFrame:
    """Keep the deterministic 1-in-``mod`` hash-slice of ``df`` (mod<=1
    passes through untouched). Eagerly checkpointed: training loops
    re-scan this slice many times (farthest-first's k-1 passes + Lloyd
    iterations), so it must be a bounded materialized table, not a
    lineage over the corpus."""
    if mod <= 1:
        return df
    # SALTED hash (r12, found by the k-cap boundary witness): the
    # spread-init seeder buckets by the UNSALTED xxhash64(id) % k, so a
    # train filter on the same hash % mod constrains which buckets the
    # sample can reach — with g = gcd(mod, k) > 1 only k/g buckets are
    # seedable. This was the entire r11 "spread-init collapse": at 5M
    # docs (mod=5, k=20000, g=5) exactly 4000 of 20000 centroids; at
    # 10M (mod=6, k=2^15, g=2) exactly 2^14. Salting decorrelates the
    # slice from the seeding; mod<=1 (every driver-gated scale) remains
    # a pass-through, so hash-pinned rows keep their bits.
    return df.filter(
        F.pmod(F.xxhash64(F.lit("train-slice"), F.col(id_col)), F.lit(mod)) == 0
    ).localCheckpoint(eager=True)


def train_slice(
    corpus: DataFrame, id_col: str = "vec_id",
    train_sample_n: int | None = None,
) -> DataFrame:
    """Deterministic hash-sample of ~``train_sample_n`` rows for
    quantizer TRAINING — faiss's train-on-sample practice, shared by
    every trained quantizer in this family (ivfpq_index since r9;
    pq_fit and ivf_kmeans_topk since r10, closing the r9 verdict's
    finding #2: they were the last full-corpus trainers, ~13 corpus
    scans per 8-centroid training). mod = corpus_count //
    train_sample_n floors to 1 whenever the corpus is within ~2x of
    the target — every correctness-gated test SF — where this is a
    bit-no-op (pytest-pinned per caller). Assignment/encoding stay
    full-corpus regardless: only what TRAINING scans is bounded."""
    return _hash_mod_filter(corpus, id_col, _train_mod(corpus, train_sample_n))


def _train_mod(corpus: DataFrame, train_sample_n: int | None) -> int:
    """The 1-in-mod training-sample rule of :func:`train_slice`: mod =
    corpus_count // train_sample_n, at least 1; 1 without a target (and
    then the corpus is not counted)."""
    if not train_sample_n:
        return 1
    return max(1, corpus.count() // train_sample_n)


# r17 (optimization guide §1.2 order-of-operations + §5 driver rules):
# when the TRAINING input is provably bounded — which the train_slice /
# semantic_model_params sizing makes true by construction for every
# quantizer below the semantic k-cap regime — the Lloyd loop runs on
# the driver over the collected sample instead of as per-iteration
# Spark jobs. The r17 profile showed the trainers driver-bound: q_sim_pq
# spends 5.5 s of 7.8 s and q_sim_ivfpq ~9 s of 12.6 s in per-iteration
# plan construction + job latency while moving KB-sized model state
# (init passes + Lloyd iterations over a <= 2048-vector sample). That
# is the faiss train-on-sample practice completed: the sample is
# bounded, so training belongs where the sample lives. The budget is
# CELLS (rows x dims), so the collect is model-scale by construction
# (<= 32 MB of doubles); anything larger — the semantic family's
# capped-k regime trains on 50*k vectors up to 1.6M — keeps the
# distributed Spark loop unchanged.
_LOCAL_TRAIN_MAX_CELLS = 1 << 22


def _collect_bounded_train(vecs: DataFrame):
    """Collect a training projection iff it fits the cell budget.

    One dim-probe job + one limit-capped collect; returns the row list,
    or None when the input exceeds the budget (the caller then runs the
    distributed path — at that scale one extra partial pass over the
    sample is noise against the iterations it keeps distributed).
    Expects the vector column to be named ``__v``."""
    first = vecs.limit(1).collect()
    if not first:
        return []
    dim = max(len(first[0]["__v"]), 1)
    row_cap = max(1, _LOCAL_TRAIN_MAX_CELLS // dim)
    rows = vecs.limit(row_cap + 1).collect()
    if len(rows) > row_cap:
        return None
    return rows


def _lloyd_local(rows, n_clusters: int, iters: int, init: str):
    """Driver-side twin of the Spark Lloyd loop in :func:`_lloyd`, run
    once per group: same seeds (lowest-id / hash-spread via the
    collected xxhash64), same lexicographic
    (distance, id) farthest-first tie-breaks, same lowest-cluster-id
    argmin ties (cids ascending, first minimum wins), same drop of
    empty clusters. Distances use the same |v|^2 - 2 v.C^T + |c|^2
    float64 matmul as the Arrow assignment kernels, whose documented
    semantics (knife-edge last-ulp ties may differ from the JVM fold)
    already cover every rows-only trained-model operator; the recall
    floors, codebook-structure and determinism pins in tests/test_pq.py,
    test_sq8.py, test_recall_floors.py and test_semantic_dedup.py hold
    unchanged. ``rows``: (vid, vec, xxhash64(vid)) tuples.

    Float-semantics note: for k <= _ARROW_ASSIGN_MIN_K the Spark loop
    assigns with the JVM zip_with+fold (sequential over dims), and the
    planted-pair pins in test_semantic_dedup sit close enough to
    cluster boundaries that a pairwise-summed numpy distance flips one
    assignment — so this twin accumulates distances sequentially over
    dims (bit-matching the fold's add order) in that regime and only
    uses the gemm form above it, exactly mirroring the Spark path's own
    kernel split (the JVM :func:`_nearest_sql` argmin at or below
    _ARROW_ASSIGN_MIN_K, the Arrow matmul above it). Means accumulate
    members in ascending-id order."""
    rows = sorted(rows, key=lambda r: r[0])
    vids = np.array([r[0] for r in rows], dtype="int64")
    V = np.array([list(r[1]) for r in rows], dtype="float64")
    hs = [r[2] for r in rows]

    def dist_matrix(C: "np.ndarray") -> "np.ndarray":
        if len(C) > _ARROW_ASSIGN_MIN_K:
            cn = (C * C).sum(axis=1)
            return (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + cn[None, :]
        # sequential fold over dims: acc += (x_t - y_t)^2, t ascending —
        # _l2sq_sql's add order, reproduced elementwise
        d2 = np.zeros((len(V), len(C)))
        for t in range(V.shape[1]):
            diff = V[:, t, None] - C[None, :, t]
            d2 += diff * diff
        return d2
    if init == "spread":
        # per hash-bucket, the member with the smallest xxhash64(vid)
        # (ties on vid for determinism; Spark's min_by tie is unordered
        # but hash ties over distinct ids are ~impossible)
        best: dict = {}
        for i, (vid, h) in enumerate(zip(vids.tolist(), hs)):
            b = h % n_clusters
            cur = best.get(b)
            if cur is None or (h, vid) < cur[:2]:
                best[b] = (h, vid, i)
        cents = {b: V[i].copy() for b, (_h, _vid, i) in best.items()}
    elif init == "farthest":
        cents = {0: V[0].copy()}
        dmin = dist_matrix(V[0:1])[:, 0]
        for i in range(1, n_clusters):
            cand = np.nonzero(dmin == dmin.max())[0]
            pick = cand[-1]  # vids ascending -> max vid among ties
            cents[i] = V[pick].copy()
            dmin = np.minimum(dmin, dist_matrix(V[pick : pick + 1])[:, 0])
    else:
        raise ValueError(f"unknown init {init!r}")
    for _ in range(iters):
        cids = sorted(cents)
        a = np.argmin(dist_matrix(np.stack([cents[c] for c in cids])), axis=1)
        cents = {}
        for j, cid in enumerate(cids):
            members = np.nonzero(a == j)[0]
            if len(members):
                acc = np.zeros(V.shape[1])
                for i in members:  # ascending-vid sequential sum
                    acc += V[i]
                cents[cid] = acc / float(len(members))
    return [
        (int(c), [float(x) for x in cents[c]]) for c in sorted(cents)
    ]


def kmeans_fit(
    corpus: DataFrame, n_clusters: int = 8, iters: int = 3,
    vec_col: str = "embedding", id_col: str = "vec_id",
    init: str = "farthest",
) -> DataFrame:
    """Lloyd k-means over an embedding column — the trained coarse
    quantizer for IVF ANN (the reference has no ANN; this is the Tier-C
    scale path the north star mandates). Returns (cluster_id int,
    centroid array<double>).

    The one-group case of :func:`kmeans_fit_grouped` (seeds,
    tie-breaks, mean updates and the driver-local fast path are all
    its): every row joins a literal group 0, which the result leaves
    out."""
    one = corpus.select(
        F.lit(0).alias("__g"), F.col(id_col).alias("__vid"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    return _lloyd(one, n_clusters, iters, init, group_col=None)


def ivf_kmeans_topk(
    probes: DataFrame, corpus: DataFrame, k: int = 5, n_clusters: int = 8,
    iters: int = 3, nprobe: int = 2, vec_col: str = "embedding",
    id_col: str = "vec_id", centroids: DataFrame | None = None,
    train_sample_n: int | None = None,
) -> DataFrame:
    """IVF ANN with a k-means-trained coarse quantizer: corpus rows live in
    their nearest-centroid bucket (:func:`_assign_buckets`, the semantic
    family's rule); each probe searches its ``nprobe`` nearest buckets
    (:func:`_probe_sql`, the recall knob). One equi-join on bucket id —
    never an all-pairs product. Same output contract as
    brute_force_topk.

    ``centroids`` (a ``kmeans_fit`` result, typically persisted to a
    parquet table) skips training — the production shape: the quantizer
    is trained once per corpus epoch, then every query and every ingest
    batch reuses it. Without it the quantizer is trained in-call, and
    ``train_sample_n`` bounds what that training scans
    (:func:`train_slice`; no-op mod=1 at every correctness-gated SF,
    pinned in tests/test_recall_floors.py). Bucket ASSIGNMENT of the
    corpus stays a full single pass either way."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_fit(
            train_slice(corpus, id_col, train_sample_n),
            n_clusters, iters, vec_col, id_col,
        )
    )
    c = _assign_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("vec"),
            _as_double(F.col(vec_col)).alias("__v"),
        ),
        cents,
        n_clusters,
    ).drop("__v", "__cents")
    probe = _probe_sql("transform(probe_vec, x -> CAST(x AS DOUBLE))", nprobe)
    p = (
        probes.select(
            F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
        )
        .join(F.broadcast(_centroid_row(cents)))
        .selectExpr(
            "probe_id", "probe_vec", f"explode(transform({probe}, s -> s.cid)) AS bkt"
        )
    )
    scored = c.join(F.broadcast(p), "bkt").withColumn(
        "sim", cosine(F.col("probe_vec"), F.col("vec"))
    )
    return ranked_topk(scored, k)


# ---- Product quantization (ADC) -------------------------------------------
# The memory side of 100 TB ANN: a 64-dim float32 embedding is 256 bytes;
# its PQ code (m subspaces x 1 byte) is m bytes — 64x compression at m=4 —
# so the searchable corpus representation fits in a fraction of the
# storage/shuffle the raw vectors need. Jegou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011 (PAPERS.md corpus). The
# reference has no ANN at all; this extends the Tier-C similarity family
# (brute force -> sign-bucket IVF -> k-means IVF -> PQ).


def kmeans_fit_grouped(
    sub: DataFrame, n_clusters: int = 16, iters: int = 3,
    group_col: str = "subspace", vec_col: str = "__sub",
    id_col: str = "__vid", init: str = "spread",
) -> DataFrame:
    """Lloyd k-means over MANY groups at once — the package's one Lloyd
    trainer (:func:`kmeans_fit` is its one-group case). Every group
    trains its own model, but each init pass / Lloyd iteration is ONE
    job over the union instead of one per group. Returns (group,
    cluster_id, centroid); groups are the ints 0..m-1.

    Deterministic: ``init="farthest"`` seeds each group with its
    lowest-id vector and adds the farthest point k-1 times (ties on the
    larger id); ``init="spread"`` seeds bucket xxhash64(id) % k with its
    min-hash member. A fixed iteration count; argmin ties break on the
    lowest cluster_id; a cluster that loses every point is dropped.

    Why grouped: pq_fit trained its m subspaces sequentially — at m=8,
    k=16, iters=3 that is 8 x (init + 3) blocking jobs of
    fixed-overhead-dominated work. Grouped, the job count is
    k-independent in m (one per init pass + one per iteration), and on
    a cluster each pass is one scan of the (group, subvector) table —
    the shape that survives m x k growing large. Measured at sf0.1
    (1980 vecs, dim 64, min-of-3, train+search): q_sim_pq 10.9 s ->
    6.9 s, q_sim_ivfpq 25.0 s -> 12.8 s.

    Scale shape per iteration: assignment is shuffle-free — for k <=
    _ARROW_ASSIGN_MIN_K all models ride ONE broadcast row as an array
    indexed by group and argmin is an inline JVM expression; for larger
    k the interpreted HOF argmin is the wall (k x dim interpreted ops
    per row, measured at k=2000), so the collected models go out in one
    explicit broadcast to a numpy Arrow stage instead. The mean update
    is posexplode + (group, cluster, dim) hash aggregate with map-side
    combine."""
    vecs = sub.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__vid"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    return _lloyd(vecs, n_clusters, iters, init, group_col)


def _lloyd(
    vecs: DataFrame, n_clusters: int, iters: int, init: str,
    group_col: str | None,
) -> DataFrame:
    """:func:`kmeans_fit_grouped`'s trainer over ``vecs`` = (__g,
    __vid, __v). Returns (group_col, cluster_id, centroid), or
    (cluster_id, centroid) for ``group_col=None`` — kmeans_fit's one
    group. The group is left out of the driver-local model frame
    before it exists rather than dropped from it afterwards: the frame
    is an RDD scan whose size Spark does not know, and a dropping
    Project turns that unknown into a known ~7.7e18 bytes. q_sim_ivfpq
    then plans two runtime bloom-filter subqueries over its
    checkpointed coarse quantizer (+0.34-0.45 s warm at sf0.01, 3
    alternating pairs on 4 cores, local[4])."""
    # Bounded-sample fast path (r17): train where the sample lives —
    # see _LOCAL_TRAIN_MAX_CELLS. The whole (group, vector) table is
    # collected once and each group's Lloyd runs on the driver;
    # over-budget inputs (the semantic k-cap regime) fall through to
    # the distributed loop below.
    local = _collect_bounded_train(
        vecs.select("__g", "__vid", "__v", F.xxhash64("__vid").alias("__h"))
    )
    if local is not None:
        by_g: dict = {}
        for r in local:
            by_g.setdefault(r["__g"], []).append((r["__vid"], r["__v"], r["__h"]))
        fitted = [
            (cid, cent) if group_col is None else (int(g), cid, cent)
            for g in sorted(by_g)
            for cid, cent in _lloyd_local(by_g[g], n_clusters, iters, init)
        ]
        group = "" if group_col is None else f"{group_col} int, "
        # model-sized frame: bound the slice count at the RDD level —
        # the default 32-way parallelize makes every downstream
        # checkpoint/broadcast pay 32 near-idle Python tasks (r17
        # profile on q_sim_ivfpq: four 32-task stages of 6-8
        # executor-run-sec at ~0.2 cpu-sec). A plan-level coalesce(1)
        # was measured instead and REJECTED: q_sim_ivfpq 6.5 -> 21.9 s.
        sess = vecs.sparkSession
        return sess.createDataFrame(
            sess.sparkContext.parallelize(fitted, 4),
            schema=f"{group}cluster_id int, centroid array<double>",
        )

    def books(cents: DataFrame) -> DataFrame:
        return _codebook_row(cents.withColumnRenamed("__g", "subspace"))

    if init == "spread":
        # One-pass hash-spread init for LARGE k (PQ codebooks, semantic
        # k), where farthest-first's k-1 sequential passes dominate:
        # ONE shuffle with map-side min_by partial agg; hash spreading
        # decorrelates seeds from id order, trading farthest-first's
        # k-center guarantee for a k-independent cost. Empty buckets
        # just yield < k clusters, which every consumer tolerates
        # (codes are keyed by cluster_id — see _adc_scored's map lookup).
        cents = (
            vecs.withColumn(
                "__h",
                F.pmod(F.xxhash64("__vid"), F.lit(n_clusters)).cast("int"),
            )
            .groupBy("__g", "__h")
            .agg(F.min_by("__v", F.xxhash64("__vid")).alias("centroid"))
            .select("__g", F.col("__h").alias("cluster_id"), "centroid")
            .localCheckpoint(eager=True)
        )
    elif init == "farthest":
        # k-center traversal, one JOINT pass per step: guarantees one
        # seed per well-separated cluster — right for coarse quantizers
        # (small k, quality-critical); use init="spread" when k is large
        cents = (
            vecs.groupBy("__g")
            .agg(F.min_by("__v", "__vid").alias("centroid"))
            .select(
                "__g", F.lit(0).cast("int").alias("cluster_id"), "centroid"
            )
            .localCheckpoint(eager=True)
        )
        for i in range(1, n_clusters):
            far = (
                vecs.join(F.broadcast(books(cents)))
                .withColumn(
                    "__cl", F.element_at(F.col("__books"), F.col("__g") + 1)
                )
                .withColumn(
                    "__dmin",
                    F.expr(
                        "array_min(transform(__cl, c -> "
                        f"{_l2sq_sql('__v', 'c.centroid')}))"
                    ),
                )
                .groupBy("__g")
                .agg(
                    F.max_by(
                        F.col("__v"), F.struct("__dmin", "__vid")
                    ).alias("centroid")
                )
                .select(
                    "__g",
                    F.lit(i).cast("int").alias("cluster_id"),
                    "centroid",
                )
            )
            # checkpoint per step: far's plan embeds cents twice (scan +
            # union), so an unbroken lineage doubles every iteration
            cents = cents.unionByName(far).localCheckpoint(eager=True)
    else:
        raise ValueError(f"unknown init {init!r}")

    for _ in range(iters):
        iter_bc = None
        if n_clusters > _ARROW_ASSIGN_MIN_K:
            assign = _assign_grouped(
                cents.collect(), n_clusters, vecs.sparkSession.sparkContext
            )
            iter_bc = assign._kmr_broadcast
            assigned = vecs.withColumn(
                "__cid", assign(F.col("__g"), F.col("__v"))
            )
        else:
            assigned = vecs.join(F.broadcast(books(cents))).withColumn(
                "__cid",
                F.expr(
                    _nearest_sql("__v", "element_at(__books, __g + 1)")
                )["cid"],
            )
        cents = (
            assigned.select(
                "__g", "__cid", F.posexplode("__v").alias("__pos", "__x")
            )
            .groupBy("__g", "__cid", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__g", "__cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                    lambda s: s["__m"],
                ).alias("centroid")
            )
            .select("__g", F.col("__cid").alias("cluster_id"), "centroid")
            # truncate the growing iterative lineage
            .localCheckpoint(eager=True)
        )
        if iter_bc is not None:
            # the eager checkpoint above is this iteration's
            # materialization barrier — the stale model broadcast is
            # dead weight on the executors from here on
            iter_bc.unpersist()
    if group_col is None:
        return cents.drop("__g")
    return cents.withColumnRenamed("__g", group_col)


def _assign_grouped(cents_rows, n_clusters: int, sc):
    """Arrow stage (group, vector) -> nearest cluster id under that
    group's own model, for the Lloyd loop above _ARROW_ASSIGN_MIN_K.
    ``cents_rows``: the collected (__g, cluster_id, centroid) rows.
    Every group's model goes out in ONE broadcast, exposed as
    ``assign._kmr_broadcast`` for the loop's per-iteration unpersist.

    Kernel choice per group: the flat one-matmul kernel up to
    _FLAT_ONE_TILE_MAX_K clusters, :func:`_assign_model`'s choice above
    it (r12 revision of the r11 "routed trainer tested and killed"
    verdict — that A/B ran at the hash-correlation-collapsed sizing,
    k_eff≈4000, where flat is ONE fast gemm tile and routing indeed
    lost 40.8 vs 29.9 s; with the correlation fixed the above-cap
    trainer really runs at k=2^15, where the flat kernel is a tiled
    memory-bound scan and the A/B reverses DECISIVELY: routed 1.4 s vs
    tiled-flat 59.7 s per assign pass at k_eff=32768, 1.6 vs 14.7 s at
    8192, agreement 1.0 on the separated synthetic slice —
    SCALE_SPOT_r12 trainer_routed_r12). Below the boundary flat is a
    single bit-stable gemm (every gated and benched k); above it
    training is rows-only by declaration and the routed kernel's
    group-boundary approximation is the same trade the full-corpus
    assign already makes."""
    by_g: dict = {}
    for r in cents_rows:
        by_g.setdefault(r["__g"], []).append(r)
    bc = sc.broadcast(
        {
            g: _nearest_model(rows)
            if n_clusters > _FLAT_ONE_TILE_MAX_K
            else (_flat_nearest, _flat_model(rows))
            for g, rows in by_g.items()
        }
    )

    def kernel(G, V):
        out = np.empty(len(V), dtype="int64")
        for g in np.unique(G):
            at = G == g
            nearest, model = bc.value[int(g)]
            out[at] = nearest(V[at], *model)
        return out

    assign = _vector_udf("int", kernel)
    assign._kmr_broadcast = bc
    return assign


# ---- SQ8: per-dimension scalar quantization -------------------------------
# The simplest point on the compression spectrum the engine covers
# (exact -> SQ8 -> PQ -> IVFADC): 4 bytes/dim -> 1 byte/dim with a
# model that is just two dim-length arrays (per-dimension min/max) — the
# faiss ScalarQuantizer / Lucene int8 HNSW storage shape. Unlike PQ the
# reconstruction is per-dimension, so ADC needs no codebook LUT and
# encode/score are pure JVM expressions.


def sq8_fit(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Train the quantizer: ONE-ROW DataFrame (lo array<double>, span
    array<double>) of per-dimension min and (max - min).

    Scale shape: posexplode to (pos, v) then a pos-keyed min/max hash
    aggregate — map-side combine reduces the shuffle to dim x partitions
    narrow rows (the classifier-gradient pattern); the model never
    touches the driver and broadcasts as one row. Spans are floored at
    1e-12 so constant dimensions encode to 0 instead of dividing by 0."""
    ex = corpus.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "v")
    )
    stats = ex.groupBy("pos").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    return stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lo"))),
            lambda s: s["lo"],
        ).alias("lo"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "hi", "lo"))),
            lambda s: F.greatest(s["hi"] - s["lo"], F.lit(1e-12)),
        ).alias("span"),
    )


def sq8_encode(
    corpus: DataFrame, quantizer: DataFrame,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) with codes in [0, 255]:
    round((v - lo) / span * 255). Shuffle-free: the quantizer rides a
    one-row broadcast, encoding is an index-aware transform at scan
    speed. (Stored as array<int> here; a production table would pack to
    binary — the layout choice is orthogonal to the plan shape.)"""
    return (
        corpus.join(F.broadcast(quantizer))
        .select(
            F.col(id_col).alias("id"),
            F.transform(
                _as_double(F.col(vec_col)),
                lambda x, i: F.least(
                    F.greatest(
                        F.floor(
                            (x - F.element_at(F.col("lo"), i + 1))
                            / F.element_at(F.col("span"), i + 1)
                            * 255
                            + F.lit(0.5)
                        ),
                        F.lit(0),
                    ),
                    F.lit(255),
                ).cast("int"),
            ).alias("codes"),
        )
    )


def sq8_topk(
    probes: DataFrame, encoded: DataFrame, quantizer: DataFrame, k: int = 5,
    vec_col: str = "embedding", id_col: str = "vec_id",
    rerank_corpus: DataFrame | None = None, shortlist: int = 50,
) -> DataFrame:
    """Approximate top-k over SQ8 codes: probes stay exact, corpus rows
    are decoded per-dimension (lo + code/255 * span) inside the distance
    fold — one corpus-code scan per probe batch, probes broadcast,
    ranked_topk's two-stage partial rank for the survivors. ``sim`` =
    negative squared L2 like pq_topk, so recall is directly comparable.
    ``rerank_corpus`` enables the shortlist + exact re-rank tail PQ and
    IVFADC share (:func:`_rerank_topk`; quantization error then only
    costs recall when a true neighbor misses the shortlist — pinned in
    tests/test_sq8.py)."""
    p = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("__pv")
    )
    scored = (
        encoded.select(F.col("id").alias("neighbor_id"), "codes")
        .join(F.broadcast(quantizer))
        .withColumn(
            "__dec",
            F.transform(
                "codes",
                lambda c, i: F.element_at(F.col("lo"), i + 1)
                + c.cast("double")
                / 255.0
                * F.element_at(F.col("span"), i + 1),
            ),
        )
        .join(F.broadcast(p))
        .withColumn("sim", F.expr("-" + _l2sq_sql("__pv", "__dec")))
        .select("probe_id", "neighbor_id", "sim")
    )
    return _rerank_topk(
        scored, probes, rerank_corpus, shortlist, k, vec_col, id_col
    )


def _rerank_topk(
    scored: DataFrame, probes: DataFrame, rerank_corpus: DataFrame | None,
    shortlist: int, k: int, vec_col: str, id_col: str,
) -> DataFrame:
    """The exact re-rank tail of the quantized top-k operators (Jegou et
    al. §V): the top ``shortlist`` of the quantized ``scored`` set
    (probe_id, neighbor_id, sim) per probe fetch their ORIGINAL vectors
    from ``rerank_corpus`` (a candidate-sized join), and exact ``sim`` =
    -squared L2 to the probe decides the final top-k. Without
    ``rerank_corpus`` the quantized scores rank directly."""
    if rerank_corpus is None:
        return ranked_topk(scored, k)
    short = ranked_topk(scored, shortlist).select("probe_id", "neighbor_id")
    cvecs = rerank_corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    pvecs = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("__pv")
    )
    exact = (
        short.join(cvecs, "neighbor_id")
        .join(F.broadcast(pvecs), "probe_id")
        .withColumn("sim", F.expr("-" + _l2sq_sql("__pv", "__cv")))
        .select("probe_id", "neighbor_id", "sim")
    )
    return ranked_topk(exact, k)


def pq_fit(
    corpus: DataFrame, m: int = 4, n_codes: int = 16, iters: int = 3,
    vec_col: str = "embedding", id_col: str = "vec_id",
    init: str = "spread", train_sample_n: int | None = None,
) -> DataFrame:
    """Train per-subspace codebooks: the vector is split into ``m``
    contiguous subvectors and each subspace gets its own ``n_codes``-way
    k-means via :func:`kmeans_fit_grouped` — all m trainings share one
    job per init pass / Lloyd iteration (shuffle-free assignment,
    centroids never on the driver, job count independent of m).
    Returns (subspace int, cluster_id int, centroid array<double>) —
    m x n_codes rows, the persistable codebook table.

    ``train_sample_n`` bounds what training scans via
    :func:`train_slice` (faiss train-on-sample; no-op mod=1 at every
    correctness-gated SF, pinned in tests/test_pq.py) — without it the
    init pass + Lloyd iterations are full-corpus scans, the r9
    verdict's finding #2."""
    corpus = train_slice(corpus, id_col, train_sample_n)
    dim = corpus.select(F.size(vec_col).alias("d")).limit(1).collect()[0]["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    # ONE scan fans every vector out to its m subvectors; the grouped
    # trainer then runs ALL m codebooks through shared init passes and
    # shared Lloyd iterations — job count independent of m (was m
    # sequential kmeans_fit calls, the round-6 fix; numerics identical,
    # recall floors and codebook tests unchanged).
    sub = corpus.select(
        F.col(id_col).alias("__vid"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    _as_double(F.col(vec_col)), j * F.lit(d_sub) + 1, d_sub
                ),
            )
        ).alias("subspace", "__sub"),
    )
    return kmeans_fit_grouped(
        sub, n_codes, iters, group_col="subspace", init=init
    )


def _codebook_row(codebooks: DataFrame) -> DataFrame:
    """One broadcastable row: array indexed by subspace of arrays of
    (cluster_id, centroid) structs, each sorted by cluster_id — the
    codebook row of PQ encode/search and, per group, of the Lloyd
    trainer's JVM assignment."""
    return (
        codebooks.groupBy("subspace")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cluster_id", "centroid"))
            ).alias("__book")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "__book"))),
                lambda s: s["__book"],
            ).alias("__books")
        )
    )


def _bq(name: str) -> str:
    """Backtick-quote an identifier for selectExpr interpolation
    (ADVICE r17): embedded backticks are doubled per the SQL parser's
    escape rule, so any column name the Column API accepts parses."""
    return "`" + name.replace("`", "``") + "`"


def _codebook_d_sub(codebooks: DataFrame) -> int:
    """Subvector width implied by the codebook (KB-sized table — the
    limit(1) probe is bounded metadata, not a data scan).

    Merging this probe with :func:`_check_pq_dim` into ONE
    union-of-limits job was measured and REJECTED (r18, executing the
    r17 verdict's guard-probe item): interleaved min-of-8 at sf0.1
    read q_sim_pq 1.965 s split vs 2.139 s merged (q_sim_ivfpq flat) —
    the union defeats CollectLimit's incremental executeTake, so the
    'saved' job launch costs more than it returns. Two bounded probes
    stay."""
    row = codebooks.select(F.size("centroid").alias("d")).limit(1).collect()
    if not row:
        raise ValueError("empty codebook table")
    return row[0]["d"]


def _check_pq_dim(df: DataFrame, vec_col: str, m: int, d_sub: int, what: str):
    """Fail loudly when vectors don't split into m x d_sub — silently
    flooring size/m (the old behavior) would drop the trailing dims from
    codes AND probe LUT slices, skewing every ADC distance."""
    row = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    if row and row[0]["d"] != m * d_sub:
        raise ValueError(
            f"{what} dim {row[0]['d']} != m*d_sub = {m}*{d_sub}; "
            "codebook and vectors disagree"
        )


def pq_encode(
    corpus: DataFrame, codebooks: DataFrame, m: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes array<int>[, *carry]): nearest-centroid code per
    subspace.

    Shuffle-free: the full codebook set rides along as ONE broadcast row
    (m x n_codes x d_sub doubles — KBs), the per-subspace argmin is the
    same inline array_min as IVF assignment. Codes materialize at scan
    speed; at corpus scale this is the representation you persist.

    d_sub comes from the CODEBOOK (with an m*d_sub == dim assertion),
    not floor(dim/m): externally-supplied codebooks with a non-divisible
    dim must fail loudly, not silently truncate the trailing dims.

    ``carry`` (r17, guide §2.4 remove-shuffles): extra input columns to
    pass through to the output row. ivfpq_index previously re-attached
    the bucket id with a full id-keyed shuffle join of the code table
    against a SECOND evaluation of the residual pipeline; carrying the
    column through the same projection removes both."""
    d_sub = _codebook_d_sub(codebooks)
    _check_pq_dim(corpus, vec_col, m, d_sub, "corpus")
    book_row = _codebook_row(codebooks)
    # parsed-expr face (r17): the per-subspace argmin tree built as ONE
    # SQL string — identical expressions (slice bounds, struct field
    # order, double literals), ~0.2 s less py4j per plan build.
    sub = (
        f"slice(transform({_bq(vec_col)}, x -> CAST(x AS DOUBLE)), "
        f"j * {d_sub} + 1, {d_sub})"
    )
    codes = (
        f"transform(sequence(0, {m - 1}), "
        f"j -> {_nearest_sql(sub, '__books[j]')}['cid'])"
    )
    return corpus.join(F.broadcast(book_row)).selectExpr(
        f"{_bq(id_col)} AS id",
        f"{codes} AS codes",
        *[_bq(c) for c in carry],
    )


def pq_topk(
    probes: DataFrame, encoded: DataFrame, codebooks: DataFrame, k: int = 5,
    m: int = 4, vec_col: str = "embedding", id_col: str = "vec_id",
    rerank_corpus: DataFrame | None = None, shortlist: int = 50,
) -> DataFrame:
    """Asymmetric-distance top-k: probes stay exact, the corpus is its PQ
    codes. Per probe and subspace, the distance to every centroid is
    precomputed into a lookup table (m x n_codes doubles per probe —
    :func:`_adc_scored`, shared with ivfpq_topk); a corpus row's
    distance is then m array lookups + a fold, independent of the
    original dimensionality. One scan of the code table per query
    batch, TakeOrdered top-k per probe via ranked_topk.
    Output contract matches brute_force_topk with ``sim`` = negative
    squared L2 (larger is nearer), so recall is comparable directly.

    ``rerank_corpus`` enables the standard ADC-shortlist + exact-re-rank
    pipeline (Jegou et al. §V; :func:`_rerank_topk`): the code scan keeps
    only the top ``shortlist`` per probe, the ORIGINAL vectors are
    fetched for just those candidates (a candidate-sized semi-join
    against the corpus table — the "vectors on disk, shortlist fetch"
    production shape), and exact L2 decides the final top-k. Quantization error then only
    costs recall when a true neighbor falls outside the shortlist, which
    the floor test pins. Measured on the near-random fixture embeddings
    (the PQ-hostile case — no cluster structure for codebooks to
    exploit): plain ADC recall@10 is 0.21-0.37 across m/code sweeps
    (m=4..16, 16-32 codes); re-ranked recall@10 is 0.40 / 0.58 / 0.75 at
    shortlist 25 / 50 / 100. The floor test pins shortlist=100 >= 0.70.
    A fixed few-hundred-row shortlist is a vanishing fraction of a real
    corpus, so the re-rank join stays candidate-sized at any scale."""
    queries = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("__q")
    )
    scored = _adc_scored(probes, vec_col, queries, encoded, codebooks, m)
    return _rerank_topk(
        scored, probes, rerank_corpus, shortlist, k, vec_col, id_col
    )


def _adc_scored(
    probes: DataFrame, vec_col: str, queries: DataFrame, encoded: DataFrame,
    codebooks: DataFrame, m: int, on: tuple[str, ...] = (),
) -> DataFrame:
    """ADC scores of PQ ``encoded`` (id, codes[, *on]) against
    ``queries`` = (probe_id, *on, __q): per query and subspace, the
    squared distance of ``__q``'s subvector to every centroid goes into
    a lookup table keyed by cluster_id (built inside the broadcast join,
    so the LUTs are broadcast, never shuffled), and a code row's ``sim``
    is minus the sum of its m lookups. Rows pair up on the ``on``
    columns (IVFADC's bucket), or all with all. Returns (*on,
    neighbor_id, probe_id, sim).

    d_sub comes from the codebook, and ``probes``' ``vec_col`` must
    split into m x d_sub (:func:`_check_pq_dim`) — a mismatch raises
    instead of scoring truncated slices."""
    d_sub = _codebook_d_sub(codebooks)
    _check_pq_dim(probes, vec_col, m, d_sub, "probes")
    # parsed-expr face (r17) of the per-subspace LUT: keyed by
    # cluster_id, not position — kmeans_fit drops clusters that lose
    # every point, so codes need not be contiguous, and a positional
    # lookup would silently read the wrong centroid's distance.
    lut = (
        f"transform(sequence(0, {m - 1}), j -> map_from_entries("
        f"transform(__books[j], c -> struct(c.cluster_id AS k, "
        f"{_l2sq_sql(f'slice(__q, j * {d_sub} + 1, {d_sub})', 'c.centroid')}"
        f" AS v))))"
    )
    luts = queries.join(F.broadcast(_codebook_row(codebooks))).selectExpr(
        "probe_id", *on, f"{lut} AS __lut"
    )
    return (
        encoded.select(F.col("id").alias("neighbor_id"), *on, "codes")
        .join(F.broadcast(luts), list(on) or None)
        .withColumn(
            "sim",
            F.expr(
                "-aggregate(zip_with(codes, __lut, "
                "(code, lut) -> element_at(lut, code)), "
                "0.0D, (acc, x) -> acc + x)"
            ),
        )
        .drop("codes", "__lut")
    )


# ---- IVFADC: coarse IVF buckets + PQ on residuals --------------------------
# The billion-vector configuration (Jegou TPAMI'11 §VI): the coarse
# quantizer restricts WHICH codes are scanned (nprobe buckets instead of
# the corpus), PQ on the residual (vec - coarse centroid) compresses WHAT
# is scanned. Residuals concentrate near zero, so a residual codebook is
# finer than a raw-vector codebook of the same size.


def ivfpq_index(
    corpus: DataFrame, n_clusters: int = 8, m: int = 4, n_codes: int = 16,
    iters: int = 3, vec_col: str = "embedding", id_col: str = "vec_id",
    centroids: DataFrame | None = None, codebooks: DataFrame | None = None,
    train_sample_n: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the IVFADC layout: returns (coarse_centroids, codebooks,
    encoded) where encoded = (id, codes, bkt) — the persistable triple
    (coarse KBs, codebooks KBs, codes m bytes/vector). ``centroids``
    skips coarse training, the per-epoch production shape; passing
    ``codebooks`` too freezes BOTH quantizers, which is the incremental
    ingest API — encode a new batch and union/append its triple rows
    onto the persisted code table; probing the appended layout equals
    probing a full rebuild under the same frozen models because
    encoding is per-row deterministic (pytest-pinned,
    tests/test_pq.py::test_ivfpq_incremental_append_probe_parity).

    Scale: coarse assignment and residual computation are shuffle-free
    (one broadcast centroid row, inline argmin, zip_with subtraction);
    residual codebook training is pq_fit's kmeans_fit_grouped, one
    group per subspace; encoding is pq_encode over the residual column
    — the corpus is scanned, never shuffled.

    The coarse quantizer KEEPS farthest-first init despite its k-1
    sequential passes: spread init was measured at sf0.1 (m=8,
    nprobe=2, re-ranked, min-of-2 end-to-end) as 6.7 s vs 9.5 s but
    cost 6 recall points (recall@10 0.39 vs 0.45) — coarse-centroid
    quality decides WHICH buckets a probe scans, so seeding quality is
    the recall budget here, unlike the residual codebooks where the
    re-rank tail absorbs spread init's marginal loss.

    ``train_sample_n`` bounds what TRAINING scans (faiss's
    train-on-sample practice, and the same caller-side idiom
    :func:`semantic_dedup` uses via ``train_sample_mod``): both
    quantizers fit on a deterministic hash-sample of ~that many vectors
    (mod = corpus_count // train_sample_n, the salted 1-in-mod slice of
    :func:`_hash_mod_filter`), eagerly checkpointed so the (k-1)
    farthest-first passes + Lloyd iterations x 2 trainings re-scan a
    bounded MB-sized table instead of the corpus — without it,
    training an 8-centroid quantizer costs ~13 full-corpus scans, the
    one corpus-dependent training term left in this family.
    Assignment, residuals, and encoding stay full-corpus single passes,
    so the returned triple covers every vector regardless. mod rounds
    DOWN to 1 whenever the corpus is within ~2x of the target (every
    correctness-gated test SF), where this parameter is numerically a
    no-op (pytest-pinned)."""
    mod = 1
    if centroids is None or codebooks is None:
        mod = _train_mod(corpus, train_sample_n)

    cents = (
        centroids
        if centroids is not None
        else kmeans_fit(
            _hash_mod_filter(corpus, id_col, mod),
            n_clusters, iters, vec_col, id_col,
        )
    )
    # parsed-expr face (r17): assignment + residual as two selectExpr
    # steps (bkt must be a named column before the residual lookup
    # references it, exactly like the withColumn chain it replaces).
    resid = (
        corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"))
        .join(F.broadcast(_centroid_row(cents)))
        .selectExpr(
            f"{_bq(id_col)}",
            "__v",
            "__cents",
            f"{_nearest_sql('__v', '__cents')} AS __near",
        )
        .selectExpr(
            f"{_bq(id_col)}",
            "__near['cid'] AS bkt",
            "zip_with(__v, element_at(map_from_entries(transform(__cents, "
            "c -> struct(c.cluster_id AS k, c.centroid AS v))), "
            "__near['cid']), (a, b) -> a - b) AS __resid",
        )
        # consume-once barrier (r17, guide §2.4 / §3 plan-truncation):
        # the residual pipeline feeds residual-codebook TRAINING, the
        # encode pass, and (pre-r17) a second full evaluation just to
        # re-attach bkt — without a barrier Catalyst re-evaluates the
        # broadcast-argmin + zip_with subtraction per consumer and each
        # consumer's analysis re-walks the large resid expression tree.
        # Lazily materialized, ContextCleaner-reclaimed; at corpus scale
        # this is the (id, bkt, residual) table the index build scans
        # anyway.
        .localCheckpoint(eager=False)
    )
    books = (
        codebooks
        if codebooks is not None
        else pq_fit(_hash_mod_filter(resid, id_col, mod),
                    m=m, n_codes=n_codes, iters=iters,
                    vec_col="__resid", id_col=id_col)
    )
    # bkt rides through the encode projection (carry=) instead of the
    # pre-r17 id-keyed shuffle join against a second evaluation of
    # resid: one full pass and zero keyed exchanges in the code-table
    # build (plan: 2 full resid evaluations + 1 join -> 1 evaluation).
    encoded = pq_encode(
        resid, books, m=m, vec_col="__resid", id_col=id_col, carry=("bkt",)
    )
    return cents, books, encoded


def ivfpq_topk(
    probes: DataFrame, coarse: DataFrame, codebooks: DataFrame,
    encoded: DataFrame, k: int = 5, m: int = 4, nprobe: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id",
    rerank_corpus: DataFrame | None = None, shortlist: int = 50,
) -> DataFrame:
    """ADC top-k over the IVFADC layout: each probe scans only its
    ``nprobe`` nearest buckets' codes (:func:`_probe_sql`, the coarse
    probe of ivf_kmeans_topk), scoring residual distances via a
    per-(probe, bucket) LUT — the probe's residual differs per bucket, so
    the LUT carries the bucket id and the code join is on bkt (bounded
    candidates, never the corpus). Scoring is pq_topk's
    :func:`_adc_scored`, with its m x d_sub check against the codebooks;
    output contract = pq_topk (sim is negative squared L2 to the
    reconstruction); ``rerank_corpus`` adds the shared exact re-rank
    tail (:func:`_rerank_topk`)."""
    # the nprobe nearest coarse buckets, then the probe's residual
    # against EACH bucket: the query side of the per-(probe, bucket) LUT
    queries = (
        probes.select(
            F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("__pv")
        )
        .join(F.broadcast(_centroid_row(coarse)))
        .selectExpr(
            "probe_id", "__pv", f"explode({_probe_sql('__pv', nprobe)}) AS __c"
        )
        .selectExpr(
            "probe_id",
            "__c['cid'] AS bkt",
            "zip_with(__pv, __c['cent'], (a, b) -> a - b) AS __q",
        )
    )
    scored = _adc_scored(
        probes, vec_col, queries, encoded, codebooks, m, on=("bkt",)
    )
    return _rerank_topk(
        scored, probes, rerank_corpus, shortlist, k, vec_col, id_col
    )


# ---- Embedding near-dup at scale: random-hyperplane LSH --------------------
# The vector-side twin of the MinHash-LSH text pipeline: q_dedup_embedding's
# all-pairs cosine is the bounded-fixture form; this is the corpus-scale
# path. Charikar SimHash-for-vectors (STOC'02): P(two vectors agree on one
# hyperplane bit) = 1 - theta/pi, so a b-bit table catches a pair with
# p^b and T independent tables with 1-(1-p^b)^T. At the dedup operating
# point (near-identical vectors, cosine >= 0.98 => p ~ 0.94) the default
# b=16, T=8 gives ~0.97 recall while spreading a random corpus over 2^16
# buckets per table — candidates stay ~ n^2/2^b per table, and the hot-
# bucket cap (same policy as the text-LSH skew guard) bounds the
# template-cluster pathology. Unrelated pairs (cosine ~ 0) collide with
# p ~ 2^-16 per table: candidate generation is equi-join, never all-pairs.


def hyperplane_bucket(
    vec_col: Column, dim: int, bits: int = 16, table: int = 0
) -> Column:
    """b-bit random-hyperplane signature: bit j = sign(v . h_j) where
    h_j is a fixed ±1 vector derived from md5(table, j, i) — literal
    coefficients baked into the plan, so the bucket is a deterministic
    pure-JVM expression (no runtime randomness, no model to persist
    beyond the (table, bits, dim) config)."""
    import hashlib

    out = F.lit(0).cast("long")
    for j in range(bits):
        signs = F.array(
            *[
                F.lit(
                    1.0
                    if int(
                        hashlib.md5(f"hp:{table}:{j}:{i}".encode()).hexdigest(),
                        16,
                    )
                    % 2
                    == 0
                    else -1.0
                )
                for i in range(dim)
            ]
        )
        dot = _fold_sum(F.zip_with(_as_double(vec_col), signs, lambda a, b: a * b))
        out = out + F.when(dot > 0, F.lit(2**j)).otherwise(F.lit(0))
    return out


def _hyperplane_sign_matrix(dim: int, bits: int, n_tables: int):
    """(dim, n_tables*bits) ±1 matrix from the same md5 derivation as
    :func:`hyperplane_bucket` — column t*bits+j is table t's hyperplane
    j, so Arrow and JVM signatures are bit-identical by construction."""
    import hashlib

    H = np.empty((dim, n_tables * bits), dtype=np.float64)
    for t in range(n_tables):
        for j in range(bits):
            for i in range(dim):
                h = int(
                    hashlib.md5(f"hp:{t}:{j}:{i}".encode()).hexdigest(), 16
                )
                H[i, t * bits + j] = 1.0 if h % 2 == 0 else -1.0
    return H


def hyperplane_buckets_all(
    dim: int, bits: int = 16, n_tables: int = 8
):
    """All ``n_tables`` hyperplane signatures of a vector in ONE Arrow
    batch: returns a pandas-UDF Column factory producing array<long> of
    length n_tables (bucket of table t at position t).

    Why a pandas UDF when the repo's rule is built-ins first: the JVM
    form is T x b higher-order-function folds per row (zip_with +
    aggregate stay INTERPRETED — no codegen for lambda bodies), each
    re-evaluating the array cast, i.e. ~T*b*dim interpreted ops/row.
    Vectorized, the whole signature set is one (batch x dim) @
    (dim x T*b) numpy matmul + a bit-pack — measured at sf0.1 (5k docs,
    dim 32, T=8, b=16), min-of-3 on a checkpointed input: signatures
    6.42 s JVM folds vs 0.21 s Arrow (30x). The staged-projection JVM
    variant (cast hoisted once, per-table signature projections — the
    attach_hash_embed precedent) was measured too and came out SLOWER
    than plain (7.27 s): staging removes the re-cast but not the
    interpreted folds, which are the actual cost. So Arrow wins and the
    JVM expression stays for single-bucket uses and the determinism pin
    (tests assert Arrow == JVM bit-parity). q_dedup_embedding_lsh
    end-to-end at sf0.1: 16.0 s (r5 bench) -> ~6.3 s COLD single-run /
    3.97 s warm min-of-3 (the number BENCH_DETAIL_r06 r5_additions
    records — bench methodology is min-of-3, so the two figures differ
    by design, not regression); the cold-vs-warm gap is the shared
    model-free embedding stage (attach_hash_embed, ~5 s cold
    scan+fold) and the exact-cosine verify over ~209k candidates
    (~2.1 s), not the signatures."""
    H = _hyperplane_sign_matrix(dim, bits, n_tables)
    return _vector_udf("array<long>", lambda V: _sign_pack(V, H, bits))


def cosine_pairs_arrow() -> "object":
    """Vectorized pairwise cosine for candidate VERIFICATION: one numpy
    pass per Arrow batch instead of three interpreted folds per row.
    Measured at sf0.1 (209k candidate pairs, dim 32, min-of-3): 2.09 s
    JVM zip_with/fold vs 0.64 s Arrow (3.3x). Used only where no SQL
    oracle consumes the values (embedding_near_dup — rows-only): numpy's
    pairwise summation can differ from the sequential fold in the last
    ulp, which the oracle-facing :func:`cosine` cannot afford."""

    def cos(A, B):
        dot = (A * B).sum(axis=1)
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        return dot / np.maximum(na * nb, 1e-12)

    # asNondeterministic (r18, guide §4.4): embedding_near_dup filters
    # on the UDF-computed sim and then projects it — the optimizer's
    # filter pushdown DUPLICATED the ArrowEvalPython node (plan-verified:
    # two ArrowEvalPython for one cosine in plans/r18/*_before.txt), so
    # every candidate pair paid the numpy pass twice. The function is
    # pure; the flag only stops the optimizer from cloning it.
    return _vector_udf("double", cos).asNondeterministic()


def embedding_near_dup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 16,
    n_tables: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_size: int | None = 64,
    buckets_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b, sim) pairs with cosine >= threshold, candidates from
    T hyperplane-LSH tables — the embedding dedup that scales: ONE
    shuffle on (table, bucket) with pairs built inside each bucket
    (narrow rows), then ONE exact cosine verify over the distinct
    candidate set. The verify join fetches vectors for candidate ids
    only (semi-join-sized, like jaccard_verify's pushdown).
    ``max_bucket_size`` drops over-full buckets from candidate
    generation — over-threshold mega-clusters route to exact dedup,
    identical policy to the text-LSH/SimHash caps.

    ``buckets_col`` (r18): the corpus already carries the hyperplane
    signatures as an array<long> column (one bucket per table, the
    ``operators.text.attach_hash_embed_arrow(buckets_col=...)`` /
    :func:`hyperplane_buckets_all` layout — the caller's bits/n_tables
    must match the args here; an array of another length fails the
    query rather than silently changing candidate generation). Without
    it the operator attaches the column itself with
    :func:`hyperplane_buckets_all`. Either way ONE base checkpoint
    carries (id, vector, buckets) — the Arrow stage runs once, before
    it — and the signature table is a cheap JVM posexplode over it,
    candidates from the shared ``dedup._bucket_pairs`` kernel."""
    from kafka_map_reduce_spark.operators.dedup import _bucket_pairs

    if buckets_col is None:
        buckets_col = "__buckets"
        corpus = corpus.withColumn(
            buckets_col,
            hyperplane_buckets_all(dim, bits, n_tables)(
                _as_double(F.col(vec_col))
            ),
        )
    # Materialize (id, vector, buckets) once: the signature table and
    # both verify-side vector fetches would otherwise each re-evaluate
    # the upstream embedding + signature Arrow stage. At corpus scale
    # this is the persisted embedding table.
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        F.col(buckets_col).alias("__b"),
    ).localCheckpoint(eager=False)
    # in-plan layout guard (raise_error: no extra job); null vectors
    # carry null buckets, which explode to no rows
    checked = F.expr(
        f"IF(__b IS NULL OR size(__b) = {n_tables}, __b, raise_error("
        f"'embedding_near_dup: bucket array length differs from "
        f"n_tables={n_tables}; build buckets with the same bits/n_tables'))"
    )
    sigs = base.select("id", F.posexplode(checked).alias("tbl", "bkt"))
    cands = _bucket_pairs(sigs, ["tbl", "bkt"], [], max_bucket_size).distinct()
    va = base.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"))
    # Arrow verify (see cosine_pairs_arrow: 3.3x over the interpreted
    # folds; safe here because this operator is rows-only — no SQL
    # oracle consumes the last-ulp of sim)
    cos = cosine_pairs_arrow()
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "sim",
            cos(_as_double(F.col("__va")), _as_double(F.col("__vb"))),
        )
        .filter(F.col("sim") >= F.lit(threshold))
        .select(
            "id_a",
            "id_b",
            round4(F.col("sim")).alias("sim"),
        )
    )


def _normalize_arrow():
    """Arrow UDF: L2-normalize array<double> vectors (zero-norm guard
    1e-12, matching cosine's). One pass per vector so the per-pair
    verify can be a bare dot product — each vector joins ~cluster-size
    pairs, and per-pair norms would redo the same sqrt that many
    times."""
    return _vector_udf("array<double>", _unit)


def _with_unit(
    df: DataFrame, vec_col: str, id_col: str, unit_col: str | None
) -> DataFrame:
    """(id, __v, __u): the vector as array<double> and its unit vector,
    taken from ``unit_col`` or computed by :func:`_normalize_arrow`."""
    v = _as_double(F.col(vec_col))
    u = F.col(unit_col) if unit_col is not None else _normalize_arrow()(v)
    return df.select(F.col(id_col).alias("id"), v.alias("__v"), u.alias("__u"))


def _bucket_pairs_fn(
    threshold: float,
    max_cluster_size: int | None = None,
    max_pairs: int | None = None,
):
    """applyInPandas kernel of both SemDeDup faces: the over-threshold
    pairs of one cluster's ``(id, bkt, __vn, is_new)`` rows that touch
    at least one NEW row, each as ``id_a < id_b``. The full build is the
    all-new case; an ingest probe marks its batch new and the standing
    index rows of the clusters it touched old, so appending a batch
    emits exactly the pairs a full rebuild would add. ids are unique
    within the cluster.

    The reason this exists instead of a bucket self-join + per-pair
    scorer: a self-join materializes ~c rows PER VECTOR each carrying
    both 256-byte vectors through Arrow — measured at sf10 (62.5M
    candidate pairs) the transfer, not the math, was the entire verify
    cost (107 s raw-cosine, 14.5/12.8 s dot-vs-cos at sf1 — i.e.
    pre-normalizing bought nothing). Grouped, each vector crosses the
    wire ONCE (one N-row shuffle on bkt) and the similarity matrix is
    one BLAS call per cluster: ``U_new @ U_all.T`` (the new side
    batch-sized), or the plain ``V @ V.T`` when every row is new — the
    full build keeps its historical float operations, which the
    hash-pinned keep-best row consumes. Rows are sorted by id, so a
    pair's position order is its id order and a new–new pair is kept
    once, from its smaller id's row. A cluster that holds an id twice (a
    batch id already in the index) raises ``ValueError`` after the sort:
    its pairs would alias one document with itself.

    ``max_cluster_size`` is the hot-cluster governor, the ClusterJoin
    size check: an over-full cluster (a template blob) emits nothing and
    routes to exact dedup, decided before any matrix is built — memory
    is bounded by max_cluster_size² floats (the cap is load-bearing
    here, not just a skew nicety). An ingest counts the union, so a
    cluster the corpus already showed to be a blob stays routed to
    exact dedup mid-ingest.

    ``max_pairs`` is the PAIR-STREAM governor (r10 verdict item #5: at
    sf100 the fixture's near-dup density put 129M over-threshold pairs
    through materialize+round+sort — the dominant term of the decade
    ratio, and almost all of it from the handful of size-capped hot
    clusters whose c²/2 ≈ 2M pairs each). When one cluster's
    over-threshold pair count exceeds the cap, the kernel emits a
    deterministic dedup-sufficient subset instead of the full clique:
    every node keeps its best witness edge (highest sim, ties to the
    smaller pair), so any doc with an over-threshold neighbor still has
    ≥1 edge and downstream connected-components / keep-best still marks
    it a duplicate, then the remaining budget fills with the globally
    top-sim pairs. Degradation under the cap is component FRAGMENTATION
    only (a weak bridge edge between two dense sub-cliques can drop) —
    the same accepted trade as the LSH families' hot-bucket caps, and
    it only engages on clusters denser than max_pairs (the planted
    fixtures and every gated SF emit orders of magnitude fewer).

    Contract nuance: the witness floor OUTRANKS the cap — if a cluster
    has more witnessed nodes than ``max_pairs`` (only possible when the
    cap is set below the cluster's node count), every witness edge is
    still emitted and the output exceeds ``max_pairs``. Deliberate:
    dedup-sufficiency is the property downstream connected-components
    depends on; a hard clamp would silently un-mark duplicates.
    semantic_dedup's sizing (4 x max_cluster_size ≥ 4 x nodes) can
    never reach this regime.

    fp32 BLAS: measured and REJECTED (r12 micro-benchmark; the one-off
    tool was retired in r17, the numbers are pinned here).
    The float32 gemm is only 1.7-2.1x faster than float64 at cluster
    sizes 500-2000 and the gemm is <10% of kernel wall (triu extraction,
    masking and frame assembly dominate; the stage residual beyond the
    kernel is round+sort+materialize). A bare fp32 swap also breaks the
    4-decimal rounding contract: max |fp64-fp32| error measured 3.1e-7,
    so ~0.3% of pairs would round differently (err/1e-4 granularity) —
    and q_dedup_semantic_keep_best consumes these sims in a HASH-pinned
    row. The exactness-preserving variant (fp32 + fp64 recompute of
    pairs inside an error band of the threshold/rounding edges) spends
    100x its gemm savings scanning the band: 6% of pairs sit within
    10x-max-err of a decision edge on hash-embed-like vectors. float64
    stays."""

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2 or (max_cluster_size is not None and n > max_cluster_size):
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        order = np.argsort(pdf["id"].to_numpy())
        ids = pdf["id"].to_numpy()[order]
        twice = ids[1:][ids[1:] == ids[:-1]]
        if len(twice):
            raise ValueError(
                f"SemDeDup cluster holds id {twice[0]} twice: batch ids "
                "must be new to the index"
            )
        new = pdf["is_new"].to_numpy(dtype=bool)[order]
        V = np.array(pdf["__vn"].tolist(), dtype=np.float64)[order]
        if new.all():
            rows, S = np.arange(n), V @ V.T
        else:
            rows = np.flatnonzero(new)
            S = V[rows] @ V.T
        # an old partner is always kept; a new one only past the row's
        # own position, so each new–new pair is emitted once
        r, c = np.nonzero(
            (S >= threshold) & (~new | (np.arange(n) > rows[:, None]))
        )
        ia, jb, sv = np.minimum(rows[r], c), np.maximum(rows[r], c), S[r, c]
        if max_pairs is not None and len(sv) > max_pairs:
            # witness-first selection: order edges best-sim-first
            # (deterministic tie-break on the id pair), keep the first
            # edge that touches each not-yet-witnessed node, then fill
            # with the best remaining edges up to the cap.
            rank = np.lexsort((ids[jb], ids[ia], -sv))
            ia, jb, sv = ia[rank], jb[rank], sv[rank]
            # each node's best edge = its first occurrence (as either
            # endpoint) in best-first order — all vectorized, no
            # per-edge Python on the up-to-c²/2 hot-cluster stream
            first = np.full(n, len(sv), dtype=np.int64)
            ua, fa = np.unique(ia, return_index=True)
            first[ua] = fa
            ub, fb = np.unique(jb, return_index=True)
            first[ub] = np.minimum(first[ub], fb)
            witness = np.unique(first[first < len(sv)])
            is_w = np.zeros(len(sv), dtype=bool)
            is_w[witness] = True
            budget = max(0, max_pairs - len(witness))
            filler = np.where(~is_w)[0][:budget]
            keep = np.sort(np.concatenate([witness, filler]))
            ia, jb, sv = ia[keep], jb[keep], sv[keep]
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[jb], "sim": sv})

    return f


def _cluster_pairs(
    rows: DataFrame,
    threshold: float,
    max_cluster_size: int | None,
    max_pairs: int | None = None,
) -> DataFrame:
    """(id_a, id_b, sim) over ``rows`` (id, bkt, __vn, is_new): one bkt
    shuffle, :func:`_bucket_pairs_fn` per cluster, sims rounded to 4
    decimals."""
    pairs = rows.groupBy("bkt").applyInPandas(
        _bucket_pairs_fn(threshold, max_cluster_size, max_pairs),
        "id_a long, id_b long, sim double",
    )
    return pairs.select("id_a", "id_b", round4(F.col("sim")).alias("sim"))


def _assign_buckets(base: DataFrame, cents: DataFrame, k: int) -> DataFrame:
    """``base`` plus ``bkt``, the nearest of the ``k`` centroids to its
    ``__v``: the JVM inline argmin (:func:`_nearest_sql`) at or below
    _ARROW_ASSIGN_MIN_K, :func:`_assign_model`'s Arrow kernel above it.
    The corpus-assignment rule of ivf_kmeans_topk and the SemDeDup
    pair."""
    if k > _ARROW_ASSIGN_MIN_K:
        assign = _assign_model(
            cents.collect(), sc=base.sparkSession.sparkContext
        )
        return base.withColumn("bkt", assign(F.col("__v")))
    return base.join(F.broadcast(_centroid_row(cents))).withColumn(
        "bkt", F.expr(_nearest_sql("__v", "__cents"))["cid"]
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = None,
    init: str = "farthest",
    train_sample_mod: int = 1,
    unit_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b, sim) pairs with cosine >= threshold, candidates
    bounded by trained k-means clusters — the SemDeDup shape (Abbas et
    al. 2023, arXiv:2303.09540): cluster the embedding space, then
    compare only WITHIN clusters.

    Complementary to :func:`embedding_near_dup`, not redundant with it:
    hyperplane LSH's collision probability (1 - theta/pi per bit)
    collapses below ~0.95 cosine — at the SEMANTIC thresholds where
    paraphrases and boilerplate variants live (0.7-0.9), b=16 tables
    catch almost nothing. K-means candidates have no per-pair collision
    decay: any pair whose members co-assign is compared exactly, so the
    operating threshold is a free parameter. The cost model flips
    accordingly: within-cluster all-pairs is O(sum c_i^2) <= N^2/k for
    balanced clusters — scale k with the corpus (k ~ N/c for a target
    cluster size c, the SemDeDup paper's own regime) and the term stays
    ~N*c, linear in the corpus. ``max_cluster_size`` is the same
    hot-bucket governor as every other dedup modality: over-full
    clusters (template blobs) drop out of the quadratic join and route
    to exact dedup. Misses are only pairs split across a cluster
    boundary — the epsilon-ball-at-the-border case the paper accepts.
    Operating constraint: target cluster size must EXCEED the expected
    dup-group size, or Lloyd splits dup groups across clusters and
    recall collapses (k is a resolution knob, not free — size k ~ N/c
    with c comfortably above the largest dup family you care about).
    Recall on planted near-dups and the split-at-small-c behavior are
    pytest-pinned (tests/test_semantic_dedup.py).

    Scale shape (r7 sf10 decomposition: train 26.1 s / assign 2.6 s /
    join+verify 107.1 s at 500k docs, k=2000 — verify dominates, train
    is the emerging quadratic term): k-means TRAINS on a deterministic
    hash-sample (``train_sample_mod`` > 1 keeps the salted 1-in-mod
    slice of :func:`_hash_mod_filter` — the faiss train-on-sample
    practice; Lloyd
    cost becomes O(sample x k) independent of the corpus) and then ONE
    full Arrow-matmul assignment pass covers every vector; vectors are
    L2-normalized in that same pass so the per-pair verify is a bare
    dot product (per-pair norms would redo each vector's sqrt
    ~cluster-size times); ONE shuffle on cluster id feeds the
    per-cluster matmul of :func:`_bucket_pairs_fn` with every row new,
    which also applies both governors: ``max_cluster_size`` and a
    pair-stream cap of 4 x max_cluster_size. Iterative training =>
    rows-only declaration, like every trained-model operator here.

    ``unit_col`` (r18): the corpus already carries the L2-normalized
    vector (the ``operators.text.attach_hash_embed_arrow(unit_col=...)``
    layout — must equal ``_normalize_arrow`` of ``vec_col``, which that
    face guarantees bit-exactly). Without it the operator attaches the
    column itself with :func:`_normalize_arrow`; either way the base
    checkpoint carries (id, vector, unit vector) and the verify is a
    bare dot product — same pairs, same sims (parity-pinned)."""
    base = _with_unit(corpus, vec_col, id_col, unit_col).localCheckpoint(
        eager=False
    )
    cents = kmeans_fit(
        _hash_mod_filter(base.select("id", "__v"), "id", train_sample_mod),
        n_clusters, iters, vec_col="__v", id_col="id", init=init,
    )
    # checkpointed so the assignment (the 1-row centroid cross join, or
    # the Arrow argmin above _ARROW_ASSIGN_MIN_K) stays out of the pair
    # plan, as the ingest face's new_rows does
    assigned = _assign_buckets(base, cents, n_clusters).select(
        "id", "bkt", F.col("__u").alias("__vn"), F.lit(True).alias("is_new")
    ).localCheckpoint(eager=False)
    # Pair-stream governor (r10 verdict #5) at 4× the size governor — a
    # size-capped hot cluster's full clique is max_cluster_size²/2 pairs
    # (2M at the 2000 default, and ~60 such template-blob clusters
    # produced essentially all of sf100's 129M-pair stream); under the
    # cap it emits ≤8k witness-first pairs instead. Ordinary clusters
    # near the TARGET size emit c·dup_density pairs, far below the cap.
    # The ingest face runs without it: it never sees a standing
    # cluster's full clique, only batch-vs-cluster rectangles, so its
    # stream is batch-bounded by construction.
    max_pairs = 4 * max_cluster_size if max_cluster_size else None
    return _cluster_pairs(assigned, threshold, max_cluster_size, max_pairs)


def semantic_dedup_ingest(
    batch: DataFrame,
    centroids: DataFrame,
    index: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = None,
    unit_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental ingest for the SemDeDup modality — the symmetry
    partner of the LSH band index / digest index / IVFADC append paths:
    dedup state persists as (centroids, assigned unit-vector index) and
    each batch probes it at batch-tracking cost, never a corpus rescan.

    Returns ``(pairs, new_index_rows)``: pairs are every over-threshold
    pair involving >= 1 batch member (exactly what a full rebuild under
    the same frozen centroids would ADD — append-vs-rebuild parity is
    pytest-pinned), and new_index_rows are the batch's (id, bkt, __vn)
    rows to append to the persisted index (encoding is per-row
    deterministic under a frozen model, the ivfpq_index incremental
    contract). Batch ids must be new to the index: a batch id already
    indexed meets itself in its cluster, and the pair kernel raises
    ``ValueError`` there (the check rides the kernel's id sort, so it
    adds no job and no corpus scan; an overlapping id in a cluster the
    kernel skips as over-full is not seen).

    Scale shape: the batch assigns against the frozen centroids (Arrow
    matmul above _ARROW_ASSIGN_MIN_K, JVM argmin below); the index is
    SEMI-JOINED down to the clusters the batch actually touched before
    semantic_dedup's per-cluster kernel (:func:`_bucket_pairs_fn`) runs
    with the batch new and the index rows old — a rectangular
    B_new @ U_all.T whose all side is cluster-sized and new side
    batch-sized — so cost tracks batch x cluster, not the corpus. With
    an empty index every row is new and the call IS the full build,
    without semantic_dedup's pair-stream cap. ``max_cluster_size``
    counts the UNION (index + batch) per touched cluster — a cluster
    the corpus already showed to be a template blob stays routed to
    exact dedup even mid-ingest.

    Local-mode harness sizing (r14, SCALE_SPOT_r14 heap_cliff_r14):
    the full governed 16M-doc pipeline (embed -> train -> assign+index
    -> governed pairs) runs in the DEFAULT 8 GiB local[32] heap
    provided (a) each corpus point runs in its OWN JVM — the r13
    "needs 48g, 8g/20g OOM" rule was shared-JVM residue (local-mode
    spark.stop() leaves the gateway JVM and prior-point state alive,
    so a new get_session is NOT isolation); 6/6 process-isolated
    probes green at 8-32g, both r13 crash points included — and
    (b) the pair-stream governor stays on: UNCAPPED
    16M pair emission crash-loops the Arrow python workers via host
    RAM, independent of JVM heap. On a real cluster this pressure is
    executor memory; the driver holds only the collected centroid
    model (k x dim doubles, ~8 MB at k=2^15).

    Index LAYOUT (r14, SCALE_SPOT_r14 assign_decomp_r14): the index
    rows deliberately CARRY the unit vectors. The measured 16M-doc
    stage split (warm min-of-3) is routed-argmin 17.7 s + Arrow
    normalize 8.1 s isolated (both LINEAR in N: 3.2x and 2.8x per
    3.2x docs) + fat parquet write ~0 — the write volume an
    (id, bkt)-only layout would save is nil, while re-deriving vectors
    at pair time costs a corpus-wide id-join per batch probe (measured
    pair stage 54.3 s thin vs 35.3-43.8 s carried at 16M; the totals,
    73.5 vs 71.5 at 16M and 21.1 vs 18.2 at 5M, are WITHIN session
    noise — the r14 drift witness moved ~19% at 16M, more than that
    gap — so the rejection rests on the structural terms, not the
    totals) and re-introduces exactly the
    O(corpus)-per-batch term this probe contract exists to avoid. The
    r13 note attributing the stage's scale-up residual to 'index write
    volume' was wrong: warm min-of-3 gives 8.4 -> 27.7 s per 5M -> 16M
    (3.3x per 3.2x N, linear); the r13 43.3 s carried first-execution
    cost."""
    n_cents = centroids.count()
    # unit_col as in semantic_dedup
    base = _with_unit(batch, vec_col, id_col, unit_col)
    new_rows = _assign_buckets(base, centroids, n_cents).select(
        "id", "bkt", F.col("__u").alias("__vn")
    ).localCheckpoint(eager=False)
    touched = new_rows.select("bkt").distinct()
    old_rows = index.join(F.broadcast(touched), "bkt").select(
        "id", "bkt", "__vn"
    )
    union = new_rows.withColumn("is_new", F.lit(True)).unionByName(
        old_rows.withColumn("is_new", F.lit(False))
    )
    return _cluster_pairs(union, threshold, max_cluster_size), new_rows

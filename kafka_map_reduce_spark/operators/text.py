"""Text analysis operators (Tier C, SURVEY §2.2): tokenization, quality
scoring, language-ID heuristic, document fingerprinting, token counting.

Everything SQL-expressible stays in JVM built-ins; only the winnowing
fingerprint drops to an Arrow-batched pandas UDF (never row-at-a-time
Python) — its rolling-hash window has no clean built-in form.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")


def tokens(text_col: Column) -> Column:
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")


def quality_score(text_col: Column) -> Column:
    """Deterministic quality heuristics: length, punctuation ratio,
    stopword ratio, mean token length — combined into a 0..1-ish score.
    All built-ins, identical formula mirrored in oracle SQL."""
    toks = tokens(text_col)
    n_chars = F.length(text_col).cast("double")
    n_toks = F.size(toks).cast("double")
    punct = (
        F.length(text_col) - F.length(F.regexp_replace(text_col, r"[.,;:!?]", ""))
    ).cast("double")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(list(STOPWORDS)))).cast("double")
    mean_tok_len = (n_chars - (n_toks - 1)) / F.greatest(n_toks, F.lit(1.0))
    return (
        F.least(n_chars / 1000.0, F.lit(1.0)) * 0.25
        + (1.0 - F.least(punct / F.greatest(n_toks, F.lit(1.0)), F.lit(1.0))) * 0.25
        + F.least(stop_hits / F.greatest(n_toks, F.lit(1.0)) * 5.0, F.lit(1.0)) * 0.25
        + F.least(mean_tok_len / 10.0, F.lit(1.0)) * 0.25
    )


# Tiny per-language stopword profiles for the language-ID heuristic; zh
# has no token profile — it is detected by a CJK char-class probe on the
# document head instead.
_LANG_PROFILES = {
    "en": ("the", "and", "of", "to", "is", "in"),
    "de": ("der", "die", "und", "ist", "nicht", "das"),
    "fr": ("le", "la", "et", "est", "les", "des"),
    "es": ("el", "la", "que", "de", "los", "es"),
}

# CJK Unified Ideographs block, shared verbatim by Java regex (Spark) and
# RE2 (DuckDB oracle) so both sides probe the identical range.
CJK_CLASS = r"[\x{4e00}-\x{9fff}]"


def lang_id(text_col: Column) -> Column:
    """Stopword-profile language heuristic as a pure JVM expression —
    whole-stage-codegen, no Python on the path (the per-row pandas UDF
    this replaced moved every string through Arrow to score 24 words).

    Per language: ``size(array_intersect(tokens, profile))`` counts
    distinct stopword hits; the argmax is ``greatest`` over
    ``struct(score, code)`` (struct comparison is field-lexicographic, so
    ties go to the largest language code — same total order as the old
    UDF's ``max(..., key=(score, lang))``). CJK is a char-class probe on
    the first 200 chars; empty/null text is "und"; no hits falls back to
    "en"."""
    toks = F.split(F.lower(text_col), r"\s+")

    def score(lang: str) -> Column:
        return F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in _LANG_PROFILES[lang]]))
        )

    best = F.greatest(
        *[
            F.struct(score(lang).alias("s"), F.lit(lang).alias("l"))
            for lang in sorted(_LANG_PROFILES)
        ]
    )
    has_cjk = (
        F.regexp_count(F.substring(text_col, 1, 200), F.lit(CJK_CLASS)) > 0
    )
    return (
        F.when(text_col.isNull() | (F.length(text_col) == 0), F.lit("und"))
        .when(has_cjk, F.lit("zh"))
        .when(best["s"] > 0, best["l"])
        .otherwise(F.lit("en"))
    )


@F.pandas_udf(LongType())
def winnow_fingerprint(text: pd.Series) -> pd.Series:
    """Winnowing document fingerprint: min-of-window over k-gram rolling
    hashes (k=8, window=4), XOR-folded to one 64-bit value.

    Measured alternative (round 5): a pure-JVM formulation —
    ``transform(sequence(1, length-7), i -> xxhash64(substr(text,i,8)))``
    then min-over-window + ``aggregate(..., acc ^ x)`` — ran 2.5x SLOWER
    (3.30 s vs 1.30 s, 5k sf0.1 docs, min-of-3): each k-gram costs an
    O(k) substr copy + full xxhash64 inside nested higher-order lambdas
    that don't fuse into whole-stage codegen, while this UDF's rolling
    hash is O(1) per position and Arrow amortizes the transfer. The exact
    61-bit modular arithmetic also cannot be replicated JVM-side without
    overflow (ANSI long), so the UDF stays — per-batch Python here is a
    deliberate, measured choice, not a leftover."""
    K, W, MOD, BASE = 8, 4, (1 << 61) - 1, 257

    def fp(s: str) -> int:
        s = s.lower()
        if len(s) < K:
            return 0
        hashes = []
        h, power = 0, pow(BASE, K - 1, MOD)
        for i, ch in enumerate(s):
            h = (h * BASE + ord(ch)) % MOD
            if i >= K - 1:
                hashes.append(h)
                h = (h - ord(s[i - K + 1]) * power) % MOD
        out = 0
        for j in range(0, max(len(hashes) - W + 1, 1)):
            out ^= min(hashes[j : j + W])
        return out - (1 << 63) if out >= (1 << 63) else out

    return text.map(fp).astype("int64")


def word_ngrams(text_col: Column, k: int = 3) -> Column:
    """All k-word grams of a document, duplicates KEPT (unlike
    dedup.word_shingles, whose per-doc distinctness is the right contract
    for set-similarity) — repetition scoring needs the multiplicity.
    Empty array for docs shorter than k tokens. Pure JVM."""
    toks = F.split(text_col, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.when(F.size(toks) < k, F.array().cast("array<string>")).otherwise(
        grams
    )


def repetition_score(text_col: Column, k: int = 3) -> Column:
    """Intra-document repeated k-gram ratio — the Gopher-style repetition
    quality gate (Rae et al. 2021 §A1.1 shape): 1 - distinct/total
    k-grams; 0.0 for docs with no k-gram. Shuffle-free per-row JVM
    expression, so the gate costs scan speed at any corpus size."""
    grams = word_ngrams(text_col, k)
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double") / total.cast("double")
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish token counts per document (JVM regexp)."""
    return df.withColumns(
        {
            "ws_tokens": F.size(tokens(F.col(text_col))).cast("long"),
            "bpe_ish_tokens": F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN)).cast(
                "long"
            ),
        }
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    lm_counts: DataFrame | None = None, oov_pseudo_count: float = 0.5,
) -> DataFrame:
    """Per-document mean unigram log-probability — the perplexity-style
    quality gate (CCNet trains a KenLM and buckets documents by
    perplexity; a unigram LM over the corpus itself is the same shape
    minus the external model dependency this container can't ship).
    Low scores flag documents whose token distribution diverges from the
    corpus — gibberish, wrong-language leakage, encoding damage.

    ``lm_counts`` (a (tok, cnt) table, e.g. persisted from a reference
    corpus) scores against a FIXED model — the production setup where
    the LM is trained once and every ingest batch is scored against it;
    default trains on ``df`` itself. Unseen tokens get
    ``oov_pseudo_count`` (avoids -inf without full smoothing).

    Scale shape: token counts are one hash aggregate (partial map-side
    combine collapses hot tokens — Zipf skew lands on the combiner, not
    one reducer); scoring joins exploded tokens to counts on the token
    and re-aggregates per doc. Both shuffles are (token|id, long) narrow
    rows. The LM itself never touches the driver."""
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    if lm_counts is None:
        # KNOWN plan duplication, measured and kept (r12): the
        # self-trained LM feeds both the total-mass aggregate and the
        # scoring join, and Catalyst does not share subtrees across join
        # branches, so the corpus is tokenized 3x in this plan (LM agg
        # twice + scoring side). A vocab-sized localCheckpoint barrier
        # was A/B'd at sf1 and REJECTED: consistently ~25% slower wall
        # (0.85 vs 0.68 s min-of-4 x3) — the idle host runs the
        # duplicated branches concurrently, while the barrier serializes
        # materialize-then-consume. On a saturated cluster the extra
        # passes are the real cost; the production posture is the fixed
        # lm_counts mode (LM persisted once, scored per batch), where no
        # duplication exists.
        lm_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total_row = lm_counts.agg(F.sum("cnt").cast("double").alias("__total"))
    scored = (
        toks.join(lm_counts, "tok", "left")
        .join(F.broadcast(total_row))
        .withColumn(
            "__lp",
            F.log(
                F.coalesce(F.col("cnt").cast("double"), F.lit(oov_pseudo_count))
                / F.col("__total")
            ),
        )
    )
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.avg("__lp").alias("mean_logprob"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_bigrams: DataFrame | None = None,
    k_smooth: float = 0.5,
    vocab_size: float | None = None,
) -> DataFrame:
    """Per-document mean bigram log-probability with add-k smoothing —
    the order-2 upgrade of :func:`unigram_logprob`'s perplexity gate.
    A unigram LM cannot see scrambled word order or template churn
    (every token individually common, every transition rare); the
    bigram conditional ln((c(w1,w2)+k) / (c(w1·)+k·V)) does, which is
    why CCNet-style quality bucketing uses an n-gram LM, not a bag of
    words. c(w1·) is the bigram-context count (= occurrences of w1 in
    non-final position) and V the model vocabulary size, so rows sum
    to a proper conditional distribution per context.

    ``lm_bigrams`` (a (w1, w2, cnt12) table persisted from a reference
    corpus) scores against a FIXED model — the production setup;
    default trains on ``df`` itself. In fixed-LM mode the model alone
    determines the score: V is ``vocab_size`` if given, else the
    distinct-token count of the LM's own (w1 ∪ w2) vocabulary — never
    the scored batch, so the same document gets the same mean_logprob
    regardless of which other documents ride along (reproducibility
    contract for a fixed gate threshold). A bigram absent from the LM
    scores cnt12 = 0 but KEEPS its context count when w1 is in the
    model — c(w1·) is recovered via a broadcast left join on the
    model-sized distinct-w1 table, so an unseen transition out of a
    frequent context scores ln(k/(c(w1·)+kV)), lower than one out of
    a rare context (r8 ADVICE: coalescing cnt1 to 0 scored every
    unseen transition at the ln(1/V) floor regardless of context
    frequency, and the per-context mass no longer summed to 1). Only
    a context absent from the model entirely has c(w1·) = 0, where
    the smoothed conditional is exactly uniform (k/(kV) = 1/V per
    continuation — still a proper distribution). In the self-trained
    default every scored bigram is in the LM, so neither branch is
    reachable and no recovery join is planned. Documents with
    fewer than two tokens have no bigrams and are absent from the
    output (both engines agree by construction).

    Scale shape: bigrams come from a zip_with over the per-doc token
    array (no positional self-join); the LM is one (w1,w2)-keyed hash
    aggregate with map-side combine absorbing the Zipf head; the
    context count cnt1 is folded INTO the LM at train time (a window
    sum over the model-sized table) so scoring joins the exploded doc
    bigrams exactly ONCE, on the pair key — the r7 form's second join
    of the exploded table on bare w1 re-shuffled every doc bigram on a
    Zipf-skewed key ("the", "of" concentrate); the pair key spreads
    the head across w2. V is a broadcast 1-row aggregate. The LM never
    touches the driver — same contract as the unigram gate."""
    from pyspark.sql import Window

    fixed_lm = lm_bigrams is not None
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__ts")
    )
    bi = (
        base.filter(F.size("__ts") >= 2)
        .select(
            "id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("__ts"), 1, F.size("__ts") - 1),
                    F.slice(F.col("__ts"), 2, F.size("__ts") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("__b"),
        )
        .select("id", F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))
    )
    if lm_bigrams is None:
        lm_bigrams = bi.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("cnt12")
        )
        # Self-trained: V is the corpus vocabulary (includes tokens of
        # 1-token docs, which form no bigram but do occupy probability
        # mass in the smoothing denominator).
        vocab_row = (
            base.select(F.explode("__ts").alias("tok"))
            .agg(F.countDistinct("tok").cast("double").alias("__v"))
        )
    elif vocab_size is not None:
        vocab_row = df.sparkSession.range(1).select(
            F.lit(float(vocab_size)).alias("__v")
        )
    else:
        vocab_row = (
            lm_bigrams.select(F.col("w1").alias("tok"))
            .union(lm_bigrams.select(F.col("w2").alias("tok")))
            .agg(F.countDistinct("tok").cast("double").alias("__v"))
        )
    # Train-time fold: cnt1 rides the model table, one window sum over
    # the model-sized LM (not the exploded corpus).
    lm = lm_bigrams.withColumn(
        "cnt1", F.sum("cnt12").over(Window.partitionBy("w1"))
    )
    scored = bi.join(lm, ["w1", "w2"], "left")
    if fixed_lm:
        # LM-missing pairs must keep their context count: recover
        # c(w1·) from the model's distinct-w1 table via a BROADCAST
        # left join (model-vocab-sized by construction), preserving
        # the exploded table's single pair-key shuffle.
        ctx = lm.select("w1", F.col("cnt1").alias("__cnt1_ctx")).dropDuplicates(
            ["w1"]
        )
        scored = scored.join(F.broadcast(ctx), "w1", "left")
        cnt1_expr = F.coalesce(
            F.col("cnt1").cast("double"),
            F.col("__cnt1_ctx").cast("double"),
            F.lit(0.0),
        )
    else:
        cnt1_expr = F.coalesce(F.col("cnt1").cast("double"), F.lit(0.0))
    scored = scored.join(F.broadcast(vocab_row)).withColumn(
        "__lp",
        F.log(
            (F.coalesce(F.col("cnt12").cast("double"), F.lit(0.0))
             + F.lit(k_smooth))
            / (cnt1_expr + F.lit(k_smooth) * F.col("__v"))
        ),
    )
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.avg("__lp").alias("mean_logprob"),
    )


def _hash_embed_raw(text_col: Column, dim: int) -> Column:
    """Unnormalized signed bucket counts (the expensive fold)."""
    toks = tokens(text_col)
    bucket = lambda t: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long"), F.lit(dim)
    )
    sign = lambda t: F.when(  # noqa: E731
        F.pmod(
            F.conv(F.substring(F.md5(t), 5, 1), 16, 10).cast("long"), F.lit(2)
        )
        == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    hashed = F.transform(
        toks, lambda t: F.struct(bucket(t).alias("b"), sign(t).alias("s"))
    )
    # ONE left-fold over the hashed tokens, scattering each ±1 into its
    # bucket slot — tokens hash exactly once. The per-bucket
    # filter-then-sum alternative re-evaluates the (md5) hash expression
    # for every bucket probe (Catalyst inlines the alias dim times):
    # measured 4.4x slower at dim=32 on sf0.01 (see q_text_hash_embed).
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, h: F.transform(
            acc,
            lambda v, i: F.when(i.cast("long") == h["b"], v + h["s"]).otherwise(v),
        ),
    )


def attach_hash_embed(
    df: DataFrame,
    text_col: str,
    out_col: str = "embedding",
    dim: int = 32,
) -> DataFrame:
    """Feature-hashing document embedding (the hashing trick,
    Weinberger et al. ICML'09), the JVM face and the oracle reference:
    each token hashes to a bucket in [0, dim) with a ±1 sign from an
    independent hash bit, signed counts are summed per bucket, and the
    vector is L2-normalized. Deterministic, model-free text →
    array<double> — the representation that lets the ANN/dedup
    operators (cosine, top-k, IVF, embedding near-dup) run on a corpus
    that ships no external embedding model. The ±1 sign makes
    collisions cancel in expectation instead of accumulating (the
    standard signed-hashing variance fix). Bucket and sign come from
    md5 hex nibbles so a DuckDB oracle replays the embedding
    bit-for-bit; :func:`attach_hash_embed_arrow` is the fast face of
    the same vectors.

    Staged across projections on purpose. As one Column, Catalyst
    inlines the signed-count fold into every place it is referenced:
    the norm once plus each of the ``dim`` output elements — ~``dim`` +
    1 evaluations of the whole fold per row (measured 26x at dim=32:
    materializing all 5k sf0.1 embeddings warm takes 25.6 s as a single
    Column vs 0.99 s staged).
    Staging raw → norm → normalize across separate projections keeps
    each step an attribute reference: CollapseProject refuses to merge
    projections when it would duplicate a non-cheap expression, so the
    fold and the norm are computed exactly once per row."""
    raw_col = _hash_embed_raw(F.col(text_col), dim)
    staged = df.withColumn("__he_raw", raw_col).withColumn(
        "__he_norm",
        F.greatest(
            F.sqrt(
                F.aggregate(
                    F.col("__he_raw"), F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
            F.lit(1e-12),
        ),
    )
    return staged.withColumn(
        out_col,
        F.transform(F.col("__he_raw"), lambda x: x / F.col("__he_norm")),
    ).drop("__he_raw", "__he_norm")


# Worker-process md5 token cache for attach_hash_embed_arrow (guide
# §4.5): module-level so a REUSED Python worker keeps the Zipf
# vocabulary across tasks and queries (the module ships in the pyfiles
# zip, so workers import it rather than rebuilding closure state).
# {dim: {token: (bucket, sign)}} — values are pure functions of the
# token, so sharing across tasks cannot change any result; the per-dim
# dict is bounded at 2^18 entries by the writer.
_EMBED_MD5_CACHE: dict = {}


def _hash_embed_batch(texts: pd.Series, dim: int):
    """Vectorized md5 hash-embed kernel: the L2-normalized ``(n, dim)``
    float64 matrix of non-null ``texts`` — the numpy kernel of
    :func:`attach_hash_embed_arrow`, which computes any signatures or
    unit vectors from this same in-memory matrix. The bit-parity pins
    (Arrow == JVM exact equality, tests/test_operators.py) hold on it.
    The kernel is module-level, so a worker runs it inside the imported
    module and fills that module's md5 cache. The 2^18-entry bound is
    PER DIM (dim is fixed per deployment, so the global footprint
    matches the per-worker sizing note below)."""
    import hashlib
    import re

    import numpy as np

    from kafka_map_reduce_spark.operators.similarity import _unit

    _cache = _EMBED_MD5_CACHE.setdefault(dim, {})
    ws = re.compile(r"\s+", re.ASCII)
    V = np.zeros((len(texts), dim), dtype="float64")
    all_toks: list = []
    doc_idx: list = []
    for i, t in enumerate(texts):
        for tok in ws.split(t.lower()):
            if tok:
                all_toks.append(tok)
                doc_idx.append(i)
    if all_toks:
        codes, uniques = pd.factorize(pd.array(all_toks))
        bucket = np.empty(len(uniques), dtype="int64")
        sign = np.empty(len(uniques), dtype="float64")
        for j, u in enumerate(uniques):
            c = _cache.get(u)
            if c is None:
                h = hashlib.md5(u.encode("utf-8")).hexdigest()
                c = (
                    int(h[:4], 16) % dim,
                    1.0 if int(h[4], 16) % 2 == 0 else -1.0,
                )
                # Bounded per-worker cache, sized from vocabulary
                # shape rather than generosity (ADVICE r10): token
                # frequencies are Zipfian, so the top 2^18 distinct
                # tokens cover the overwhelming share of token
                # OCCURRENCES while costing ~250 B/entry ≈ 64 MB
                # per Python worker — times ~32 workers/executor
                # that is a named ~2 GB/executor ceiling, vs the
                # hundreds of MB PER WORKER the old 4M bound
                # allowed. Tail tokens just recompute one md5 —
                # the cache is a speedup, not a correctness state.
                if len(_cache) < 262_144:
                    _cache[u] = c
            bucket[j], sign[j] = c
        np.add.at(V, (np.asarray(doc_idx), bucket[codes]), sign[codes])
    return _unit(V)


def attach_hash_embed_arrow(
    df: DataFrame,
    text_col: str,
    out_col: str = "embedding",
    dim: int = 32,
    buckets_col: str | None = None,
    bits: int = 16,
    n_tables: int = 8,
    unit_col: str | None = None,
) -> DataFrame:
    """Arrow production face of the md5 hash-embed: BIT-IDENTICAL
    vectors to :func:`attach_hash_embed` (exact-equality
    pytest pin, tests/test_operators.py) from ONE vectorized Arrow stage
    instead of the JVM's O(tokens × dim) interpreted HOF fold.

    Why it exists (r9 verdict item #6, the embed wall): at 5M docs the
    fold — not the hash — is the semantic family's linear ceiling.
    Measured sf100 embed pass: md5 face 243.4 s, an xxhash64 JVM face
    (since removed) 210.5 s — swapping hashers bought 14%, killing the
    "xxhash64 is ~10× faster" remedy; this face attacks the fold
    itself — per-batch the tokens FACTORIZE (Zipf vocab: millions of
    occurrences, thousands of distincts), md5 runs once per distinct token through an
    executor-lifetime cache, and the signed counts land in one
    ``np.add.at`` scatter. SCALE_SPOT_r10 carries the measured win.

    Bit parity is exact, not approximate: the ±1 bucket sums are
    integer-valued (exactly representable, so JVM left-fold order vs
    numpy pairwise summation cannot differ), Python ``int(hex, 16)``
    equals ``conv(hex, 16, 10)``, the tokenizer mirrors
    :func:`tokens` (lower → ASCII ``\\s+`` split → drop empties, the
    Java-regex semantics), and norm/divide are the same IEEE doubles.
    The DuckDB oracle twins replay the SAME md5 nibbles either way —
    the md5 face STAYS the oracled face; this just makes it fast.

    Cache scope (r17, guide §4.5): the md5 cache is the module-level
    ``_EMBED_MD5_CACHE`` keyed by ``dim`` — a closure-local dict is
    re-unpickled EMPTY into every task, so the old "executor-lifetime"
    claim was really task-lifetime; the module global lives in the
    imported operators.text of each REUSED Python worker
    (spark.python.worker.reuse default), so the Zipf vocabulary
    survives across tasks and queries. Values are pure md5-derived
    (bucket, sign) pairs — deterministic in the token alone, so
    cross-task reuse cannot change any result. The 2^18-entry bound is
    unchanged (same ~64 MB/worker ceiling the r10 sizing named).

    Fused outputs (r18, guide §4.1 — every JVM↔Python stage pays the
    per-task worker round trip the r17 profile quantified at ~130-200
    ms/task): ``buckets_col`` also emits the ``n_tables`` hyperplane
    signatures of ``bits`` bits (the :func:`operators.similarity.
    hyperplane_buckets_all` layout ``embedding_near_dup`` consumes) and
    ``unit_col`` the re-normalized vector (``_normalize_arrow``'s
    arithmetic, ``semantic_dedup``'s verify input), both from the same
    in-memory matrix in the SAME single Arrow stage. They run the exact
    sign-pack and normalize kernels of the separate stages, so each
    output is bit-identical to the two-stage composition (float64
    round-trips Arrow exactly; pinned in tests/test_embedding_lsh.py
    and tests/test_semantic_dedup.py)."""
    from kafka_map_reduce_spark.operators.similarity import (
        _hyperplane_sign_matrix,
        _sign_pack,
        _unit,
        _vector_udf,
    )

    H = _hyperplane_sign_matrix(dim, bits, n_tables) if buckets_col else None

    def embed(texts):
        V = _hash_embed_batch(texts, dim)
        out = {"emb": V}
        if H is not None:
            out["bkts"] = _sign_pack(V, H, bits)
        if unit_col is not None:
            out["unit"] = _unit(V)
        return out

    fields = {
        out_col: ("emb", "array<double>"),
        buckets_col: ("bkts", "array<long>"),
        unit_col: ("unit", "array<double>"),
    }
    fields = {c: ft for c, ft in fields.items() if c is not None}
    struct = ", ".join(f"{f}: {t}" for f, t in fields.values())
    stage = _vector_udf(f"struct<{struct}>", embed)
    return (
        df.withColumn("__he", stage(F.col(text_col)))
        .withColumns({c: F.col("__he").getField(f) for c, (f, _) in fields.items()})
        .drop("__he")
    )


def remove_contaminated_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Span-level decontamination (the surgery step of Lee et al. /
    GPT-3-style contamination handling): instead of DROPPING a train doc
    that shares k-gram shingles with the eval set (the doc-level
    q_text_decontaminate policy — wasteful when one quoted sentence
    taints a long document), cut exactly the contaminated token spans
    and keep the rest.

    Returns (id, n_tokens, n_removed, cleaned_text): a shingle matching
    an eval shingle at 1-based token position p removes tokens
    p..p+k-1; overlapping matches union naturally. cleaned_text is the
    space-join of surviving tokens.

    100 TB design: the eval side is an eval suite, tiny by definition —
    its distinct shingle set is BROADCAST, so matching is a map-side
    hash join against every train shingle partition; the only shuffle
    is the per-doc matched-position aggregate, bounded by actual
    contamination volume. The surgery itself is an index-aware filter
    over the token array — pure JVM, scan speed."""
    toks = F.split(F.col(text_col), " ")
    grams = word_ngrams(F.col(text_col), k)
    eval_sh = (
        eval_docs.select(
            F.explode(word_ngrams(F.col(text_col), k)).alias("__s")
        )
        .distinct()
    )
    hits = (
        docs.select(F.col(id_col), F.posexplode(grams).alias("__p0", "__s"))
        .join(F.broadcast(eval_sh), "__s")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set(F.col("__p0") + 1)).alias("__ps"))
    )
    with_ps = docs.join(hits, id_col, "left").withColumn(
        "__ps", F.coalesce(F.col("__ps"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        toks,
        lambda t, j: ~F.exists(
            F.col("__ps"),
            lambda p: (F.lit(j) + 1 >= p) & (F.lit(j) + 1 <= p + (k - 1)),
        ),
    )
    return with_ps.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


def compression_ratio(
    text_col_name: str, out_prefix: str = "z"
):
    """Column factory for the zlib compression-ratio quality signal
    (Gopher/RefinedWeb-style): returns a pandas-UDF Column producing
    struct(n_bytes long, n_compressed long, ratio double) where ratio =
    compressed/raw UTF-8 size. Repetitive boilerplate compresses far
    below prose (low ratio); random noise barely compresses (ratio near
    or above 1) — both tails are gate candidates.

    Why a pandas UDF when the repo's rule is built-ins first: Spark has
    no SQL-surface DEFLATE, so there is no JVM-expression alternative to
    measure against; zlib level 6 over Arrow batches is executor-local,
    deterministic for a given zlib (rows-only + pytest contract, like
    the winnowing fingerprint), and costs one pass over the bytes."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_bytes: long, n_compressed: long, ratio: double>")
    def z(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            if t is None:
                rows.append((None, None, None))
                continue
            raw = t.encode("utf-8")
            comp = len(zlib.compress(raw, 6))
            n = len(raw)
            rows.append((n, comp, comp / max(n, 1)))
        return pd.DataFrame(rows, columns=["n_bytes", "n_compressed", "ratio"])

    return z(F.col(text_col_name))

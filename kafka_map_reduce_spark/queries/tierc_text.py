"""Tier C text-analysis + multimodal queries over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafka_map_reduce_spark.functions import davg4, o_avg4, round4
from kafka_map_reduce_spark.operators import multimodal as M
from kafka_map_reduce_spark.operators import text as X
from kafka_map_reduce_spark.queries import twins
from kafka_map_reduce_spark.registry import query
from kafka_map_reduce_spark.sources import fan_out_scan, load_table


@query(
    "q_text_tokens",
    oracle="""
    SELECT tok, CAST(count(*) AS BIGINT) AS tf
    FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    )
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY tf DESC, tok ASC
    LIMIT 100
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + global term frequencies, top-100."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("tok"))
        .limit(100)
    )


@query(
    "q_text_stats",
    oracle=f"""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {o_avg4('CAST(n_chars AS DOUBLE)', 'avg_chars')},
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus statistics."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg4(F.col("n_chars").cast("double")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "q_text_quality",
    oracle=f"""
    WITH {twins.quality()}
    SELECT doc_id, quality FROM q
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punctuation / stopword-ratio / mean token
    length heuristics, all JVM built-ins. Scan fanned out (r11: the
    regex-heavy per-row scoring is CPU-bound on the one-row-group bench
    table, 0.413 -> 0.330 s; per-row output, partition-invariant;
    corpus-scale no-op by the gate)."""
    d = fan_out_scan(load_table(spark, sf_dir, "documents"), key=("doc_id",))
    return d.select(
        "doc_id",
        round4(X.quality_score(F.col("text"))).alias("quality"),
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                AS BIGINT) AS bpe_ish_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting (JVM regexp_count)."""
    d = load_table(spark, sf_dir, "documents")
    return X.token_counts(d).select("doc_id", "ws_tokens", "bpe_ish_tokens")


@query(
    "q_text_langid",
    oracle=r"""
    SELECT doc_id, lang,
           CASE
             WHEN text IS NULL OR length(text) = 0 THEN 'und'
             WHEN regexp_matches(substr(text, 1, 200),
                                 '[\x{4e00}-\x{9fff}]') THEN 'zh'
             -- argmax with ties to the LARGEST language code: probe in
             -- descending code order with >= against the rest
             WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de
                  AND s_fr > 0 THEN 'fr'
             WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
             WHEN s_en >= s_de AND s_en > 0 THEN 'en'
             WHEN s_de > 0 THEN 'de'
             ELSE 'en'
           END AS pred_lang
    FROM (
      SELECT doc_id, lang, text,
        len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['the','and','of','to','is','in'])) AS s_en,
        len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['der','die','und','ist','nicht','das'])) AS s_de,
        len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['le','la','et','est','les','des'])) AS s_fr,
        len(list_intersect(string_split_regex(lower(text), '\s+'),
            ['el','la','que','de','los','es'])) AS s_es
      FROM documents
    )
    """,
    tags=("heuristic",),
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-profile argmax + CJK char probe),
    pure JVM expression — now hash-checked against a DuckDB oracle
    mirroring the identical formula (it was rows-only while the scorer
    lived in a pandas UDF)."""
    # fanned out (r11): the stopword-profile regex battery is pure
    # per-row CPU — 0.688 -> 0.347 s on the one-row-group bench table;
    # partition-invariant; corpus-scale no-op by the gate
    d = fan_out_scan(load_table(spark, sf_dir, "documents"), key=("doc_id",))
    return d.select("doc_id", "lang", X.lang_id(F.col("text")).alias("pred_lang"))


@query(
    "q_text_repetition",
    oracle=r"""
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
           CASE WHEN len(g) = 0 THEN 0.0
                ELSE floor((1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                                  / len(g)) * 10000 + 0.5) / 10000
           END AS rep3
    FROM (
      SELECT doc_id,
             CASE WHEN len(a) < 3 THEN []
                  ELSE list_transform(range(1, greatest(len(a) - 1, 1)),
                                      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])
             END AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents)
    )
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition gate (operators/text.py:repetition_score
    semantics): repeated 3-gram ratio per doc, the Gopher-style filter a
    training pipeline runs before anything else. Shuffle-free JVM
    expression — 0-Exchange budget in plancheck; exact gram counts ride
    along so the oracle hash pins the integers, not just the ratio.

    Staged projections (the attach_hash_embed pattern): a single select
    inlines the gram-building transform into n_grams, n_distinct AND the
    score (~4 evaluations of word_ngrams + 2 of array_distinct per row);
    staging grams -> counts -> ratio computes each exactly once.
    Measured min-of-3 at sf0.1: 4.01 s single-projection -> 1.48 s
    staged (2.7x). xxhash64-ing grams before array_distinct was measured
    too (1.39 s) and REJECTED: 6% more for a 64-bit collision risk that
    would silently desync n_distinct from the string-exact oracle.

    Fanned out (r17): the staged gram build is pure per-row CPU on the
    one-row-group bench scan's single task (the same class as
    q_text_quality/q_text_langid); keyed fan-out, corpus-scale no-op by
    the gate, per-row output so partition-invariant. Interleaved A/B at
    sf0.1: 3.35 -> 0.98 s min-of-4 (3.4x)."""
    d = fan_out_scan(load_table(spark, sf_dir, "documents"), key=("doc_id",))
    staged = (
        d.withColumn("__g", X.word_ngrams(F.col("text"), 3))
        .withColumn("__n", F.size("__g"))
        .withColumn("__nd", F.size(F.array_distinct("__g")))
    )
    return staged.select(
        "doc_id",
        F.col("__n").cast("long").alias("n_grams"),
        F.col("__nd").cast("long").alias("n_distinct"),
        F.when(F.col("__n") <= 0, F.lit(0.0))
        .otherwise(
            F.floor(
                (
                    F.lit(1.0)
                    - F.col("__nd").cast("double") / F.col("__n").cast("double")
                )
                * 10000
                + F.lit(0.5)
            )
            / F.lit(10000)
        )
        .alias("rep3"),
    )


@query(
    "q_text_decontaminate",
    oracle=r"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
                                   i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents)
    ),
    bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
    overlap AS (
      SELECT t.doc_id, b.bench_id, count(*) AS n_shared
      FROM train t JOIN bench b USING (s)
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(bench_id AS BIGINT) AS bench_id,
           CAST(n_shared AS BIGINT) AS n_shared
    FROM (
      SELECT doc_id, bench_id, n_shared,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY n_shared DESC, bench_id) AS rn
      FROM overlap
    ) WHERE rn = 1
    """,
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data step none of the
    dedup family covers: find TRAIN docs sharing >= 2 distinct word
    3-gram shingles with any doc of an eval/benchmark set (here the
    deterministic ~1% slice doc_id % 97 == 0), reporting each
    contaminated doc's strongest benchmark match (ties to the smallest
    bench id). The exact-n-gram-overlap shape of the GPT-3/PaLM
    contamination reports.

    100 TB design: the benchmark side is tiny by definition (an eval
    suite, not a corpus) — its shingle table is broadcast, so candidate
    generation is a map-side hash join against every train shingle
    partition; the only shuffle is the (train, bench) overlap count, a
    table bounded by actual collisions, then a per-doc argmax window
    over those few rows. No corpus-side self-join anywhere."""
    from kafka_map_reduce_spark.operators import dedup as D

    # fanned out (r11): both shingle branches re-pay the single-task
    # scan+explode otherwise — 1.901 -> 0.735 s on the one-row-group
    # bench table; corpus-scale no-op by the gate
    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents"), key=("doc_id",)
    ).select("doc_id", "text")
    bench_sh = (
        D.word_shingles(docs.filter(F.col("doc_id") % 97 == 0), "text", "doc_id")
        .withColumnRenamed("id", "bench_id")
    )
    train_sh = D.word_shingles(
        docs.filter(F.col("doc_id") % 97 != 0), "text", "doc_id"
    )
    overlap = (
        train_sh.join(F.broadcast(bench_sh), "s")
        .groupBy("id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    w = W.partitionBy("id").orderBy(F.desc("n_shared"), F.asc("bench_id"))
    return (
        overlap.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("id").alias("doc_id"), "bench_id", "n_shared")
    )


@query(
    "q_text_decontaminate_spans",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    g AS (
      SELECT doc_id, a,
             CASE WHEN len(a) < 3 THEN []
                  ELSE list_transform(range(1, greatest(len(a) - 1, 1)),
                                      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])
             END AS gs
      FROM t
    ),
    ev AS (SELECT DISTINCT unnest(gs) AS s FROM g WHERE doc_id % 97 = 0),
    hit AS (
      SELECT doc_id, list_sort(list(DISTINCT i)) AS ps
      FROM (
        SELECT g.doc_id, u.i
        FROM g, unnest(range(1, len(gs) + 1)) AS u(i)
        WHERE g.doc_id % 97 <> 0 AND gs[i] IN (SELECT s FROM ev)
      )
      GROUP BY doc_id
    ),
    surg AS (
      SELECT g.doc_id, a,
             list_transform(
               list_filter(range(1, len(a) + 1),
                           j -> len(list_filter(coalesce(hit.ps, []),
                                                p -> j >= p AND j <= p + 2)) = 0),
               j -> a[j]) AS kept
      FROM g LEFT JOIN hit USING (doc_id)
      WHERE g.doc_id % 97 <> 0
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(a) AS BIGINT) AS n_tokens,
           CAST(len(a) - len(kept) AS BIGINT) AS n_removed,
           -- a FULLY-removed doc has kept = [] and DuckDB's
           -- array_to_string([]) is NULL where Spark's array_join is ''
           coalesce(array_to_string(kept, ' '), '') AS cleaned_text
    FROM surg
    """,
)
def q_text_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (operators/text.py:
    remove_contaminated_spans) — the surgery q_text_decontaminate's
    doc-level flag stops short of: every train-doc 3-gram matching an
    eval shingle (the same deterministic doc_id % 97 eval slice) has its
    k tokens CUT, and the cleaned text survives. One quoted sentence no
    longer costs the whole document. Full string output hash-checked
    against the DuckDB replay of the identical surgery.

    Scale: eval shingles broadcast (an eval suite is tiny by
    definition); the only shuffle is the per-doc matched-position
    aggregate, bounded by contamination volume; the cut itself is an
    index-aware JVM array filter at scan speed.

    Fanned out (r17): the r17 stage profile showed the ENTIRE query on
    one task — 6.0 of 6.4 executor-cpu-sec in the single-row-group
    scan's shingle + position-filter surgery (the same profile that
    won its sibling q_text_decontaminate the r11 fan-out at 1.901 ->
    0.735 s); keyed fan-out, corpus-scale no-op by the gate,
    hash-verified identical at sf0.01/sf0.1 (the surgery is per-row)."""
    from kafka_map_reduce_spark.operators.text import (
        remove_contaminated_spans,
    )

    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents"), key=("doc_id",)
    ).select("doc_id", "text")
    return remove_contaminated_spans(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )


@query("q_text_bpe", oracle=None, tags=("iterative",))
def q_text_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable BPE tokenizer end-to-end (operators/bpe.py): ONE
    distributed word-count aggregate over the corpus, then the merge
    loop runs driver-local over the collected Zipf-bounded word table
    with incremental pair counts (the standard trainer design — a
    production 50k-merge vocabulary is seconds of local work, not
    O(n_merges) sequential Spark jobs; the per-merge distributed loop
    survives only as the documented super-vocabulary fallback). The
    frozen merge table then encodes every document via the
    Arrow-batched greedy lowest-rank encoder (word-memoized).
    Iterative training => rows-only; train/encode consistency,
    determinism, monotone compression, AND local-vs-distributed
    trainer parity are pytest-pinned in tests/test_bpe.py. Output:
    per-doc whitespace vs BPE token counts and the first 8 BPE tokens
    as a preview string."""
    from kafka_map_reduce_spark.operators.bpe import bpe_encode, bpe_train

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_train(d, n_merges=20)
    enc = bpe_encode(d, merges)
    return enc.select(
        "doc_id",
        F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("ws_tokens"),
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 8)).alias("preview"),
    )


@query("q_text_fingerprint", oracle=None, tags=("heuristic",))
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprint (pandas UDF)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", X.winnow_fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS byte_len,
           'image/fake' AS media_type,
           CAST(doc_id % 640 + 32 AS INTEGER) AS width,
           CAST(doc_id % 480 + 24 AS INTEGER) AS height,
           ascii(substr(text, 1, 1)) AS first_byte
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column + typed metadata plumbing (SQL-checkable half)."""
    d = load_table(spark, sf_dir, "documents")
    media = M.attach_media(d)
    return media.select(
        "doc_id",
        F.octet_length("media").cast("long").alias("byte_len"),
        "media_type",
        "width",
        "height",
        F.ascii(F.col("media").cast("string")).alias("first_byte"),
    )


@query("q_multimodal_decode", oracle=None, tags=("stub",))
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media decode via mapInPandas (decoder stubbed with a
    deterministic fake — see operators/multimodal.py).

    The feature vector is emitted as one comma-joined string column: array
    cells are unhashable/unsortable in the external harness canonicalizer,
    so every registered query scalarizes complex outputs (enforced by
    tests/test_registry_contract.py)."""
    d = load_table(spark, sf_dir, "documents")
    feats = M.decode_features(M.attach_media(d))
    return feats.select(
        "doc_id",
        "byte_len",
        F.concat_ws(
            ",",
            F.transform(
                "features",
                lambda x: round4(x).cast("string"),
            ),
        ).alias("features_csv"),
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
    SELECT tf.doc_id, tf.tok, tf.tf,
           floor((tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)) * 10000 + 0.5) / 10000
             AS tfidf
    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token): two hash aggregates + a broadcast join of
    the (small) document-frequency table against the TF table."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
    # KNOWN plan duplication, measured and kept (r12): the TF table feeds
    # both the DF aggregation and the join left side, so the tokenize +
    # TF aggregate appears twice in the plan. A localCheckpoint barrier
    # on tf was A/B'd at sf1 and REJECTED (~0.80 vs 0.58 s min-of-4 x3 —
    # the idle host overlaps the duplicate branches; the barrier
    # serializes them and materializes a corpus-sized aggregate).
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n"))
    return (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "tf",
            (
                F.floor(
                    (F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")))
                    * 10000
                    + F.lit(0.5)
                )
                / F.lit(10000)
            ).alias("tfidf"),
        )
    )


@query(
    "q_multimodal_frames",
    oracle="""
    WITH m AS (SELECT doc_id, encode(text) AS b FROM documents),
    f AS (SELECT doc_id,
                 unnest(range(0, CAST(ceil(octet_length(b)/256.0) AS BIGINT)))
                   AS frame_idx,
                 b
          FROM m)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, frame_idx,
           CAST(least(256, octet_length(b) - frame_idx*256) AS BIGINT) AS frame_len
    FROM f WHERE frame_idx % 2 = 0
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over the opaque binary column: 256-byte
    frames, every 2nd kept — 1->N expansion in mapInPandas, no shuffle
    (operators/multimodal.py:sample_frames). The frame payload itself is
    dropped here so the driver hashes only scalar columns."""
    from kafka_map_reduce_spark.operators.multimodal import attach_media, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_media(docs), frame_size=256, every_n=2).select(
        "doc_id", "frame_idx", "frame_len"
    )


@query(
    "q_multimodal_resize",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           64 AS width, 48 AS height,
           CAST(greatest(1, floor(octet_length(encode(text)) *
                ((64.0*48.0) / ((doc_id % 640 + 32) * (doc_id % 480 + 24)))))
             AS BIGINT) AS byte_len
    FROM documents
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: deterministic fake scaler (payload scaled by the
    pixel-area ratio) with metadata rewrite — the oracle reproduces the
    exact float expression (ratio computed first, then one multiply) so
    the byte counts hash-match."""
    from kafka_map_reduce_spark.operators.multimodal import attach_media, resize_media

    docs = load_table(spark, sf_dir, "documents")
    return resize_media(attach_media(docs), 64, 48).select(
        "doc_id", "width", "height", "byte_len"
    )


@query(
    "q_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ),
    nonempty AS (SELECT tok FROM toks WHERE tok <> ''),
    tot AS (SELECT count(*) AS n FROM nonempty)
    SELECT tok, CAST(count(*) AS BIGINT) AS cnt
    FROM nonempty CROSS JOIN tot
    GROUP BY tok, n
    HAVING count(*) > 0.002 * n
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens above 0.2% corpus frequency) via
    Misra-Gries candidate pruning + exact verification
    (operators/sketches.py). Bit-identical to the plain GROUP BY the
    oracle runs — the sketch only prunes the shuffle from every-distinct-
    token to <= capacity x partitions keys, which is the 100 TB plan."""
    from kafka_map_reduce_spark.operators import sketches as SK

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
    return SK.heavy_hitters(toks, "tok", min_share=0.002)


# Simple, RE2-and-Java-compatible PII shapes (kept dialect-neutral: no
# backrefs, no lookaround — Spark regexes run on Java, the oracle on RE2).
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


@query(
    "q_text_redact",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0
                    THEN text || ' contact: user' || doc_id ||
                         '@example.com or 555-867-' ||
                         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                              '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
                + len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT)
             AS n_redactions
    FROM injected
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction stage (emails/phones -> placeholder tokens): the
    standard pre-training scrub, pure JVM regexp — codegen, no UDF, one
    narrow projection, embarrassingly parallel at any scale. Deterministic
    PII is injected into a quarter of the docs so the oracle checks real
    replacements; output carries md5 of the redacted text (compact
    whole-content hash) plus the per-doc redaction count."""
    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-867-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE,
        "[PHONE]",
    )
    # Python-API regexp_extract_all, NOT F.expr interpolation: SQL string
    # literals unescape '\.' to '.', silently loosening the pattern vs the
    # regexp_replace above (found live: 'a@bXcd' counted but not redacted).
    n_red = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), F.lit(0))
    ) + F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), F.lit(0)))
    return injected.select(
        "doc_id",
        F.md5(redacted).alias("redacted_md5"),
        n_red.cast("long").alias("n_redactions"),
    )


@query(
    "q_text_chunks",
    oracle=f"""
    WITH {twins.chunks()}
    SELECT doc_id, chunk_id, chunk, n_tokens FROM chunks
    """,
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (50-token windows, stride 40 => 10-token
    overlap): the stage that turns documents into model-sized training
    rows. Token array computed once per doc; chunks materialize as a JVM
    transform + posexplode — a narrow 1->N operator with no shuffle, so
    it streams at scan speed at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("a")
    )
    n_chunks = F.greatest(
        F.ceil((F.size("a") - F.lit(10)) / F.lit(40.0)).cast("long"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.array_join(F.slice("a", i * 40 + 1, 50), " ").alias("chunk"),
            F.size(F.slice("a", i * 40 + 1, 50)).cast("int").alias("n_tokens"),
        ),
    )
    return toks.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "c")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("c.chunk").alias("chunk"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


@query(
    "q_pipeline_e2e",
    oracle=f"""
    WITH keep AS (
        SELECT min(doc_id) AS doc_id
        FROM documents GROUP BY md5(lower(trim(text)))
    ),
    kept AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN keep USING (doc_id)
        WHERE d.lang IN ('en', 'fr') AND d.n_chars >= 200
          AND len(string_split_regex(d.text, '\\s+')) >= 30
    ),
    red AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                              '{_PHONE_RE}', '[PHONE]', 'g') AS text
        FROM kept
    ),{twins.chunks("red")}
    SELECT doc_id, chunk_id, md5(chunk) AS chunk_md5, n_tokens FROM chunks
    """,
    tags=("flagship",),
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, documents -> model-ready
    chunks in one logical plan: exact dedup (keep-min-id) -> quality gate
    (chars + token count) -> language gate -> PII redaction -> 50/40
    context-window chunking. Exactly ONE shuffle (the dedup aggregate);
    every later stage is a narrow projection/explode, so the whole
    pipeline runs at scan speed after the dedup exchange — the shape a
    100 TB corpus build needs. Every stage is the oracle-checked operator
    registered individually (q_dedup_exact, q_text_quality family,
    q_text_redact, q_text_chunks); this query checks their composition."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    deduped = (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    kept = deduped.filter(
        F.col("lang").isin("en", "fr")
        & (F.col("n_chars") >= 200)
        & (F.size(F.split(F.col("text"), r"\s+")) >= 30)
    )
    red = kept.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ).alias("text"),
    )
    toks = red.select("doc_id", F.split(F.col("text"), r"\s+").alias("a"))
    n_chunks = F.greatest(
        F.ceil((F.size("a") - F.lit(10)) / F.lit(40.0)).cast("long"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.md5(F.array_join(F.slice("a", i * 40 + 1, 50), " ")).alias("chunk_md5"),
            F.size(F.slice("a", i * 40 + 1, 50)).cast("int").alias("n_tokens"),
        ),
    )
    return toks.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "c")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("c.chunk_md5").alias("chunk_md5"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


@query(
    "q_text_hash_embed",
    oracle=f"""
    WITH {twins.hash_embed()}
    SELECT doc_id,
           to_json(list_transform(e,
             x -> CAST(floor(x*10000 + 0.5) AS INTEGER))) AS emb_q_json
    FROM emb
    """,
)
def q_text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embeddings (signed hashing trick):
    model-free text -> normalized array<double>, the representation that
    lets the cosine/top-k/IVF/embedding-dedup operators run end-to-end
    from raw text without shipping an external model.

    Thin registration wrapper over the Arrow md5 embed face
    (operators/text.py:attach_hash_embed_arrow — bit-identical to the
    JVM md5 fold, pinned in tests/test_operators.py, and 9x faster at
    5M docs because the interpreted O(tokens x dim) aggregate fold is
    replaced by one factorize + np.add.at per Arrow batch): the DuckDB
    oracle replays the same md5 bucket/sign nibbles bit-for-bit, and
    components are emitted as 1e-4-quantized ints (the q_embed_quantize
    JSON convention — float FORMATTING differs between engines even
    when values are bit-equal)."""
    d = load_table(spark, sf_dir, "documents")
    emb = X.attach_hash_embed_arrow(d, "text", "e", dim=32)
    return emb.select(
        "doc_id",
        F.to_json(
            F.transform(
                F.col("e"), lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("int")
            )
        ).alias("emb_q_json"),
    )


@query("q_text_compressibility", oracle=None, tags=("heuristic",))
def q_text_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal (operators/text.py:
    compression_ratio) — the Gopher/RefinedWeb junk detector the other
    gates don't subsume: repeated boilerplate compresses far below
    prose, random noise barely compresses, so BOTH distribution tails
    are drop candidates. Rows-only (no DEFLATE in DuckDB); the
    three-regime ordering and exact byte accounting are pytest-pinned.
    Executor-local Arrow batches, one pass over the bytes, zero
    shuffles."""
    from kafka_map_reduce_spark.operators.text import compression_ratio

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", compression_ratio("text").alias("z")
    ).select(
        "doc_id",
        F.col("z.n_bytes").alias("n_bytes"),
        F.col("z.n_compressed").alias("n_compressed"),
        round4(F.col("z.ratio")).alias("ratio"),
    )

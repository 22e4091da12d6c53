"""DuckDB twins of the SQL stages that several oracles replay.

Each function returns CTE text (``name AS (...)`` items joined by
commas) for an oracle's WITH clause, so a stage is written once and
every oracle that replays it composes the same text. ``bound`` keeps
``documents`` to ``doc_id < bound``, the subset the Spark fixture
bounds its input to. A stage that reads another stage's CTE names it in
its docstring; the oracle lists the stages in that order.
"""

from __future__ import annotations

# Line length (tokens) of the boilerplate line hashes, non-overlapping;
# the Spark side passes the same value to operators/dedup.py:line_hashes.
_LINE_TOKENS = 20


def _docs(bound: int | None) -> str:
    return "documents" if bound is None else f"documents WHERE doc_id < {bound}"


def hash_embed(bound: int | None = None) -> str:
    """``emb(doc_id, e)``: the md5 signed feature-hashing embedding, 32
    buckets, L2-normalized. Replays operators/text.py:attach_hash_embed
    (and its bit-identical Arrow face) bit for bit."""
    return rf"""
    etoks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
               AS ts
      FROM {_docs(bound)}
    ),
    hashed AS (
      SELECT doc_id, list_transform(ts, t -> struct_pack(
          b := CAST(('0x' || substr(md5(t),1,4)) AS BIGINT) % 32,
          s := CASE WHEN CAST(('0x' || substr(md5(t),5,1)) AS BIGINT) % 2 = 0
                    THEN 1.0 ELSE -1.0 END
      )) AS hs
      FROM etoks
    ),
    raw AS (
      SELECT doc_id, list_transform(range(0, 32), j ->
         COALESCE(list_sum(list_transform(list_filter(hs, h -> h.b = j),
                                          h -> h.s)), 0.0)) AS r
      FROM hashed
    ),
    emb AS (
      SELECT doc_id,
             list_transform(r, x -> x / greatest(
               sqrt(list_sum(list_transform(r, v -> v*v))), 1e-12)) AS e
      FROM raw
    )"""


def shingle_pairs(bound: int) -> str:
    """``pairs(id_a, id_b, j)``: every doc pair ``id_a < id_b`` whose
    word-3-shingle Jaccard ``j`` is at least 0.2. Replays the bounded
    all-pairs fixture (word_shingles, then jaccard_verify at 0.2)."""
    return f"""
    stoks AS (
        SELECT doc_id, string_split(text, ' ') AS a FROM {_docs(bound)}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(a) - 1, 1)),
                                     i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS s
        FROM stoks
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
        FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
        FROM inter
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    )"""


def closure(bound: int) -> str:
    """``comp(doc_id, cluster_id)``: the connected components of
    ``pairs(id_a, id_b)`` over the bounded documents, each labelled by
    its minimum id. A recursive CTE, so the oracle says WITH RECURSIVE."""
    return f"""
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM {_docs(bound)}
        UNION
        SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    comp AS (
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    )"""


def quality(bound: int | None = None) -> str:
    """``q(doc_id, quality)``: operators/text.py:quality_score (length,
    punctuation, stop-word and mean-token-length terms), floor-rounded
    to 4 decimals."""
    return rf"""
    qt AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS DOUBLE) AS n_toks,
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                    AS DOUBLE) AS punct,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                    x -> x IN ('the','a','and','of','to','in','is','on','for','with')))
                    AS DOUBLE) AS stop_hits
        FROM {_docs(bound)}
    ),
    q AS (
        SELECT doc_id,
               floor((least(n_chars / 1000.0, 1.0) * 0.25
                      + (1.0 - least(punct / greatest(n_toks, 1.0), 1.0)) * 0.25
                      + least(stop_hits / greatest(n_toks, 1.0) * 5.0, 1.0) * 0.25
                      + least(((n_chars - (n_toks - 1)) / greatest(n_toks, 1.0)) / 10.0, 1.0) * 0.25)
                     * 10000 + 0.5) / 10000 AS quality
        FROM qt
    )"""


def keep_best(bound: int) -> str:
    """``best(cluster_id, keep_id, quality, n_members)``: the retention
    tail over ``pairs(id_a, id_b)``. Components (``closure``), quality
    (``quality``), then each component keeps its highest-quality member,
    ties on the smaller doc id."""
    return f"""{closure(bound)},{quality(bound)},
    best AS (
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
               CAST(doc_id AS BIGINT) AS keep_id,
               quality,
               CAST(n_members AS BIGINT) AS n_members
        FROM (
            SELECT comp.cluster_id, comp.doc_id, q.quality,
                   count(*) OVER (PARTITION BY comp.cluster_id) AS n_members,
                   row_number() OVER (PARTITION BY comp.cluster_id
                                      ORDER BY q.quality DESC, comp.doc_id) AS rk
            FROM comp JOIN q USING (doc_id)
        ) WHERE rk = 1
    )"""


def line_hashes() -> str:
    """``lines(doc_id, h)`` and ``cnt(h, occ)``: the md5 of each
    non-overlapping ``_LINE_TOKENS``-token line of every document
    (operators/dedup.py:line_hashes), and each hash's corpus count."""
    return rf"""
    ltoks AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS a FROM documents
    ),
    lines AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(a, i * {_LINE_TOKENS} + 1,
                             i * {_LINE_TOKENS} + {_LINE_TOKENS}), ' ')) AS h
      FROM ltoks,
           unnest(range(0, greatest(
             CAST(ceil(len(a) / {_LINE_TOKENS}.0) AS BIGINT), 1))) AS t(i)
    ),
    cnt AS (SELECT h, count(*) AS occ FROM lines GROUP BY h)"""


def chunks(src: str = "documents") -> str:
    """``chunks(doc_id, chunk_id, chunk, n_tokens)``: 50-token windows at
    stride 40 (10-token overlap) over the whitespace tokens of the
    ``(doc_id, text)`` relation ``src``."""
    return rf"""
    ctoks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS a FROM {src}
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
               array_to_string(list_slice(a, i * 40 + 1, i * 40 + 50), ' ') AS chunk,
               CAST(len(list_slice(a, i * 40 + 1, i * 40 + 50)) AS INTEGER)
                 AS n_tokens
        FROM ctoks,
             unnest(range(0, greatest(CAST(ceil((len(a) - 10) / 40.0) AS BIGINT), 1)))
               AS t(i)
    )"""

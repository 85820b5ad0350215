"""DuckDB oracle SQL fragments shared across registry family
modules (verbatim from __spark_entry__.py, split in round 11)."""



# ----------------------------------------------------------------------
# DuckDB oracle twins
# ----------------------------------------------------------------------
_REV = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)

_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]), "
    "(x, y) -> x + y)"
)
_SQN = "list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y)"


def _tumble_sql(size: int) -> str:
    return f"""
WITH e AS (SELECT CAST(event_id % 2 AS INT) AS bit, ts FROM events),
w AS (SELECT bit, (CAST(floor(epoch(ts)/{size}) AS BIGINT)*{size} + {size}) AS we FROM e)
SELECT strftime(make_timestamp(we*1000000), '%Y-%m-%d %H:%M:%S') AS window_end,
       CAST(sum(bit) AS BIGINT) AS ones_exact, count(*) AS n_rows
FROM w GROUP BY we
"""


_TRAFFIC_RAW = """
SELECT event_id,
  CASE WHEN event_id % 97 = 0 THEN 'x'
       ELSE CAST(event_id % 2 AS VARCHAR) END AS value,
  CASE WHEN event_id % 101 = 0 THEN 'not-a-time'
       ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') END AS ts_str
FROM events
"""

_TRAFFIC_PARSED = f"""
SELECT event_id, TRY_CAST(value AS INT) AS bit,
       CAST(floor(epoch(try_strptime(ts_str, '%Y-%m-%dT%H:%M:%S.%f'))) AS BIGINT) AS ts_sec
FROM ({_TRAFFIC_RAW}) raw
WHERE TRY_CAST(value AS INT) IS NOT NULL
  AND try_strptime(ts_str, '%Y-%m-%dT%H:%M:%S.%f') IS NOT NULL
"""

_PS_BASE = """
ps AS (SELECT l_partkey, l_suppkey,
       sum(CAST(l_quantity AS DECIMAL(12,2))) AS ps_availqty,
       min(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost
       FROM lineitem GROUP BY 1, 2)
"""

_SHINGLE_BASE = """
tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
idx AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i FROM tok),
sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM idx),
n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
"""

_STOP_LIST = "('the','a','of','to','and','in','is','for','on','at')"


_NEARDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt({_SQN.format(a='embedding::DOUBLE[]')}) AS nrm FROM embeddings),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      round({_DOT.format(a='a.v', b='b.v')} / (a.nrm * b.nrm), 6) AS score
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, score FROM p WHERE score >= 0.4
"""


_SESSION_SQL = """
WITH o AS (SELECT user_id, ts, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
           FROM events),
m AS (SELECT user_id, ts,
      CASE WHEN prev_us IS NULL OR us - prev_us >= 14400000000 THEN 1 ELSE 0 END AS new_sess
      FROM o),
s AS (SELECT user_id, ts,
      sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
          ROWS UNBOUNDED PRECEDING) AS sess
      FROM m)
SELECT user_id,
 strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
 strftime(max(ts) + INTERVAL '14400 seconds', '%Y-%m-%d %H:%M:%S') AS session_end_plus_gap,
 count(*) AS n_events
FROM s GROUP BY user_id, sess
"""


# one closure truth for all three component surfaces (label-prop,
# star-contraction, incremental store): reachability closure over the
# fuzzy supplier graph, component id = min reachable node
_SUPPLIER_COMPONENTS_SQL = """
WITH RECURSIVE
jp AS (SELECT a.s_suppkey AS a, b.s_suppkey AS b
       FROM supplier a JOIN supplier b
         ON a.s_suppkey < b.s_suppkey
        AND levenshtein(a.s_name, b.s_name) <= 1),
e AS (SELECT a, b FROM jp UNION SELECT b, a FROM jp),
nodes AS (SELECT DISTINCT a AS node FROM e),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT reach.node, e.b FROM reach JOIN e ON reach.r = e.a
)
SELECT node, CAST(min(r) AS BIGINT) AS component_id
FROM reach GROUP BY node
"""


def _morton2_sql(a: str, b: str) -> str:
    """The 16-bit Morton interleave of layout._morton2 as DuckDB
    bitwise SQL — bit-for-bit the same integer function, so the
    z-order oracle recomputes file membership independently."""
    terms = []
    for i in range(16):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def _lang_id_sql() -> str:
    """DuckDB twin of text.lang_id: blank → und, any codepoint above
    U+2E80 → zh, else first language (code order) whose marker-word
    hit count strictly exceeds all earlier ones — i.e. max hits,
    alphabetical tie-break, und when zero."""
    from flink_window_dgim_traffic_spark.operators.text import (
        _LANG_MARKERS,
    )

    langs = [lg for lg in sorted(_LANG_MARKERS) if _LANG_MARKERS[lg]]
    hit_cols = []
    for lg in langs:
        hits = " + ".join(
            f"(CASE WHEN list_contains(ws, '{m}') THEN 1 ELSE 0 END)"
            for m in _LANG_MARKERS[lg]
        )
        hit_cols.append(f"({hits}) AS h_{lg}")
    mx = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    pick = " ".join(
        f"WHEN h_{lg} = {mx} THEN '{lg}'" for lg in langs[:-1]
    )
    return f"""
WITH w AS (SELECT doc_id, text,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS ws
           FROM documents),
h AS (SELECT doc_id, text, {", ".join(hit_cols)} FROM w)
SELECT doc_id,
 CASE WHEN text IS NULL OR trim(text) = '' THEN 'und'
      WHEN regexp_matches(text, '[\\x{{2E81}}-\\x{{10FFFF}}]') THEN 'zh'
      WHEN {mx} = 0 THEN 'und'
      {pick}
      ELSE '{langs[-1]}' END AS pred_lang
FROM h
"""


def _zorder_layout_sql() -> str:
    """Replay write_zordered_bucketed's normalize → interleave →
    fixed-grid bucket math over the raw rows and aggregate each
    bucket's min-max box + the probe's prune decision — what the
    parquet footers of the written files must contain."""
    zv = _morton2_sql("ra", "rb")
    return f"""
WITH s AS (SELECT CAST(min(user_id) AS DOUBLE) AS alo,
                  CAST(max(user_id) AS DOUBLE) AS ahi,
                  min(value) AS blo, max(value) AS bhi FROM events),
n AS (SELECT user_id, value,
 least(65535, CAST(floor((CAST(user_id AS DOUBLE) - alo)
   / (CASE WHEN ahi > alo THEN ahi - alo ELSE 1.0 END) * 65536.0) AS BIGINT)) AS ra,
 least(65535, CAST(floor((value - blo)
   / (CASE WHEN bhi > blo THEN bhi - blo ELSE 1.0 END) * 65536.0) AS BIGINT)) AS rb
 FROM events, s),
z AS (SELECT user_id, value, ({zv}) AS zv FROM n),
b AS (SELECT user_id, value, (zv * 16) >> 32 AS zb FROM z)
SELECT printf('zb=%d', zb) AS file,
       CAST(min(user_id) AS DOUBLE) AS min_user_id,
       CAST(max(user_id) AS DOUBLE) AS max_user_id,
       min(value) AS min_value, max(value) AS max_value,
       NOT (max(value) < 100.0 OR min(value) > 150.0) AS must_scan
FROM b GROUP BY zb
"""


def _dgim_g_sql(n: str, mode: str = "java") -> str:
    """``g(n)`` — the DGIM estimate after ``n`` in-horizon 1-bit
    inserts (dgim.count_estimate_closed) as a DuckDB expression.
    Valid whenever the window span ≤ the sketch horizon (every
    windowed query here), where replay == closed form is
    property-tested in tests/test_dgim.py."""
    pw = f"(CAST(1 AS BIGINT) << (length(bin({n} + 1)) - 2))"
    if mode == "java":
        return (
            f"CASE WHEN {n} <= 1 THEN {n}"
            f" ELSE {n} - {pw} + ({pw} + 1) // 2 END"
        )
    # pyflink mode: floor halving, even for the single-bucket case
    return f"CASE WHEN {n} <= 0 THEN 0 ELSE {n} - {pw} + {pw} // 2 END"


def _tumble_dgim_sql(
    mode: str = "java", n_rows: bool = False, exact: bool = True
) -> str:
    """60 s tumble DGIM oracle: per window, estimate = g(ones)."""
    cols = [f"{_dgim_g_sql('n', mode)} AS count_estimate"]
    if exact:
        cols.append("n AS exact_count")
    if n_rows:
        cols.append("r AS n_rows")
    return f"""
WITH e AS (SELECT CAST(event_id % 2 AS INT) AS bit, ts FROM events),
w AS (SELECT bit, (CAST(floor(epoch(ts)/60) AS BIGINT)*60 + 60) AS we FROM e),
c AS (SELECT we, CAST(sum(bit) AS BIGINT) AS n, count(*) AS r FROM w GROUP BY we)
SELECT strftime(make_timestamp(we*1000000), '%Y-%m-%d %H:%M:%S') AS window_end,
       {", ".join(cols)}
FROM c
"""


_HOP_DGIM_SQL = f"""
WITH e AS (SELECT CAST(event_id % 2 AS INT) AS bit, epoch(ts) AS es FROM events),
x AS (SELECT bit, unnest(generate_series(
        (CAST(floor((es - 60)/10) AS BIGINT) + 1) * 10,
        CAST(floor(es/10) AS BIGINT) * 10, 10)) AS ws FROM e),
c AS (SELECT ws, CAST(sum(bit) AS BIGINT) AS n FROM x GROUP BY ws)
SELECT strftime(make_timestamp(ws*1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(make_timestamp((ws+60)*1000000), '%Y-%m-%d %H:%M:%S') AS window_end,
       {_dgim_g_sql('n')} AS count_estimate, n AS exact_count
FROM c
"""

_CUMULATE_DGIM_SQL = f"""
WITH e AS (SELECT CAST(event_id % 2 AS INT) AS bit, epoch(ts) AS es FROM events),
b AS (SELECT bit, es, CAST(floor(es/60) AS BIGINT)*60 AS ws FROM e),
x AS (SELECT bit, ws, unnest(generate_series(
        ws + (CAST(floor((es - ws)/10) AS BIGINT) + 1) * 10,
        ws + 60, 10)) AS we FROM b),
c AS (SELECT ws, we, CAST(sum(bit) AS BIGINT) AS n FROM x GROUP BY ws, we)
SELECT strftime(make_timestamp(ws*1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(make_timestamp(we*1000000), '%Y-%m-%d %H:%M:%S') AS window_end,
       {_dgim_g_sql('n')} AS count_estimate, n AS exact_count
FROM c
"""

_TUMBLE_DGIM_BY_USER_SQL = f"""
WITH e AS (SELECT CAST(event_id % 2 AS INT) AS bit, user_id, ts FROM events),
w AS (SELECT bit, user_id,
      (CAST(floor(epoch(ts)/60) AS BIGINT)*60 + 60) AS we FROM e),
c AS (SELECT we, user_id, CAST(sum(bit) AS BIGINT) AS n
      FROM w GROUP BY we, user_id)
SELECT strftime(make_timestamp(we*1000000), '%Y-%m-%d %H:%M:%S') AS window_end,
       user_id, {_dgim_g_sql('n')} AS count_estimate, n AS exact_count
FROM c
"""


def _mmr_sql(n_query: int = 10, pool: int = 50, k: int = 10,
             lam: float = 0.5) -> str:
    """DuckDB twin of similarity.mmr_diverse_topk: the k greedy
    rounds UNROLLED as CTEs (the kcore fixed-round precedent).
    Tractable because the r9 rewrite made the selection loop exact
    integer arithmetic — relevance / pairwise sims enter as
    rint(round6·1e6) micro-units and the objective is
    ``lam_e6·rel_e6 − (1e6−lam_e6)·div_e6`` (lam_e6 derived from the
    same ``lam`` the query passes — keep them threaded together), so
    there is no float rounding an engine could disagree on; the only
    float step is the round-6 cosine itself, shared with the green
    simsearch_topk oracle."""
    lam_e6 = int(round(lam * 1e6))
    lam_inv = 1_000_000 - lam_e6
    dot_ab = _DOT.format(a="va", b="vb")
    parts = [
        f"""
WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt({_SQN.format(a='embedding::DOUBLE[]')}) AS nrm FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
      WHERE vec_id < {n_query}),
scored AS (SELECT query_id, e.vec_id AS neighbor_id,
  round({_DOT.format(a='qv', b='v')} / (qnrm * nrm), 6) AS score
  FROM q JOIN e ON e.vec_id <> q.query_id),
cand AS MATERIALIZED (SELECT query_id, neighbor_id, score,
         CAST(round(score * 1e6) AS BIGINT) AS rel_e6
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, neighbor_id) AS rnk FROM scored)
  WHERE rnk <= {pool} AND score IS NOT NULL),
sim AS MATERIALIZED (SELECT a.query_id, a.neighbor_id AS na, b.neighbor_id AS nb,
        CAST(round(round({dot_ab} / (ea.nrm * eb.nrm), 6) * 1e6)
             AS BIGINT) AS sim_e6
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id
             AND a.neighbor_id <> b.neighbor_id
  JOIN (SELECT vec_id, v AS va, nrm FROM e) ea
       ON ea.vec_id = a.neighbor_id
  JOIN (SELECT vec_id, v AS vb, nrm FROM e) eb
       ON eb.vec_id = b.neighbor_id),
p1 AS (SELECT query_id, neighbor_id, score, rel_e6,
       CAST(1 AS BIGINT) AS mmr_rank,
       {lam_e6} * rel_e6 AS mmr_e12
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY rel_e6 DESC, neighbor_id) = 1),
picked1 AS MATERIALIZED (SELECT * FROM p1)"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""",
a{r} AS (SELECT c.* FROM cand c LEFT JOIN picked{r - 1} p
        ON p.query_id = c.query_id AND p.neighbor_id = c.neighbor_id
        WHERE p.neighbor_id IS NULL),
d{r} AS (SELECT a.query_id, a.neighbor_id, a.score, a.rel_e6,
        max(s.sim_e6) AS div_e6
  FROM a{r} a
  JOIN picked{r - 1} p ON p.query_id = a.query_id
  JOIN sim s ON s.query_id = a.query_id
            AND s.na = a.neighbor_id AND s.nb = p.neighbor_id
  GROUP BY a.query_id, a.neighbor_id, a.score, a.rel_e6),
p{r} AS (SELECT query_id, neighbor_id, score, rel_e6,
        CAST({r} AS BIGINT) AS mmr_rank,
        {lam_e6} * rel_e6 - {lam_inv} * div_e6 AS mmr_e12
  FROM d{r}
  QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY {lam_e6} * rel_e6 - {lam_inv} * div_e6 DESC,
                   neighbor_id) = 1),
picked{r} AS MATERIALIZED (SELECT * FROM picked{r - 1} UNION ALL SELECT * FROM p{r})"""
        )
    parts.append(
        f"""
SELECT query_id, neighbor_id, score, mmr_rank,
       mmr_e12 AS mmr_score_e12
FROM picked{k}
"""
    )
    return "".join(parts)


def _md5_60_sql(expr: str, start: int = 1) -> str:
    """DuckDB twin of dedup._md5_60: 60-bit int from 15 hex chars of
    md5 — bit-equal to Spark's ``conv(substr(md5(x),{start},15),16,10)``
    (verified both ways in tests/test_dedup_similarity.py)."""
    return f"CAST(('0x' || substr(md5({expr}), {start}, 15)) AS BIGINT)"


def _minhash_lsh_sql(
    threshold: float = 0.8, num_perm: int = 64, bands: int = 16
) -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs(hash_family='md5'):
    shingle → Kirsch-Mitzenmacher double-hash min-hashes (ONE md5 +
    one hex-conversion per shingle: perm_i = h1 + i·h2, h2 an
    overflow-free xorshift mix of h1) → 16 banded keys → bucket-join
    candidates → exact Jaccard verify.  Replays the EXACT integer
    arithmetic, so the candidate set — not just the verified output —
    is engine-independent."""
    rows_per_band = num_perm // bands
    h1 = _md5_60_sql("s", 1)
    h2 = (
        f"(xor((h1 & {(1 << 41) - 1}) << 13, h1 >> 19) | 1)"
    )
    mins = ",\n    ".join(
        f"min(hh.h1 + {i} * hh.h2) AS h{i}" for i in range(num_perm)
    )
    band_keys = ",\n    ".join(
        _md5_60_sql(
            " || ':' || ".join(
                f"CAST(h{b * rows_per_band + j} AS VARCHAR)"
                for j in range(rows_per_band)
            )
        )
        for b in range(bands)
    )
    jac = (
        "round(CAST(overlap AS DOUBLE) /"
        " CAST(na.c + nb.c - overlap AS DOUBLE), 6)"
    )
    return f"""
WITH {_SHINGLE_BASE},
hh AS (SELECT doc_id, h1, {h2} AS h2
       FROM (SELECT doc_id, {h1} AS h1 FROM sh)),
mh AS (SELECT doc_id,
    {mins}
  FROM hh GROUP BY doc_id),
bk AS (SELECT doc_id, i AS band, keys[i] AS band_key
       FROM (SELECT doc_id, [{band_keys}] AS keys FROM mh),
            unnest(generate_series(1, {bands})) AS t(i)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bk a JOIN bk b
         ON a.band = b.band AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, {jac} AS jaccard
FROM cand
JOIN inter USING (doc_a, doc_b)
JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
WHERE {jac} >= {threshold}
"""


def _neardup_incremental_sql(
    threshold: float = 0.5, num_perm: int = 64, bands: int = 16
) -> str:
    """DuckDB twin of the _neardup_incremental entry (md5 family):
    recompute BOTH halves' double-hash signatures and band keys from
    the documents table, candidates = (odd new × even indexed) band
    collisions, estimate = agreeing-permutation count / num_perm
    (round 6) ≥ threshold.  Exactly the signature-estimated contract
    the persisted index serves — the index is just these values on
    disk."""
    rows_per_band = num_perm // bands
    h1 = _md5_60_sql("s", 1)
    h2 = f"(xor((h1 & {(1 << 41) - 1}) << 13, h1 >> 19) | 1)"
    mins = ",\n    ".join(
        f"min(hh.h1 + {i} * hh.h2) AS h{i}" for i in range(num_perm)
    )
    band_keys = ",\n    ".join(
        _md5_60_sql(
            " || ':' || ".join(
                f"CAST(h{b * rows_per_band + j} AS VARCHAR)"
                for j in range(rows_per_band)
            )
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN n.h{i} = o.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_perm)
    )
    return f"""
WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
idx AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
        FROM tok),
sh AS (SELECT DISTINCT doc_id,
       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM idx),
hh AS (SELECT doc_id, h1, {h2} AS h2
       FROM (SELECT doc_id, {h1} AS h1 FROM sh)),
mh AS MATERIALIZED (SELECT doc_id,
    {mins}
  FROM hh GROUP BY doc_id),
bkk AS (SELECT doc_id, i AS band, keys[i] AS band_key
        FROM (SELECT doc_id, [{band_keys}] AS keys FROM mh),
             unnest(generate_series(1, {bands})) AS t(i)),
cand AS (SELECT DISTINCT n.doc_id AS new_doc_id,
                o.doc_id AS index_doc_id
         FROM bkk n JOIN bkk o
         ON n.band = o.band AND n.band_key = o.band_key
         WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0)
SELECT new_doc_id, index_doc_id,
       round(({agree}) / {num_perm}.0, 6) AS est_jaccard
FROM cand
JOIN mh n ON n.doc_id = new_doc_id
JOIN mh o ON o.doc_id = index_doc_id
WHERE round(({agree}) / {num_perm}.0, 6) >= {threshold}
"""


def _media_neardup_sql(max_hamming: int = 3, bits: int = 60) -> str:
    """DuckDB twin of multimodal.media_neardup(hash_family='md5'):
    the payload is the utf-8 text bytes (with_media_blob); byte
    4-grams travel as their canonical UPPERCASE-HEX rendering —
    ``md5(substr(hex(encode(text)), 2i-1, 8))`` — byte-exact for ANY
    text (this DuckDB build has no BLOB substring/md5).  Bag ±1 votes
    over the 60 md5 bits, fingerprint 0 for payloads under 4 bytes,
    4×15-bit pigeonhole join, hamming filter — the media sibling of
    the simhash_pairs twin."""
    votes = ",\n    ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS v{j}" for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
           octet_length(encode(text)) AS n FROM documents),
g AS (SELECT doc_id, substr(hx, 2 * t.i - 1, 8) AS gram
      FROM b, unnest(generate_series(1, n - 3)) AS t(i)
      WHERE n >= 4),
h AS (SELECT doc_id,
      CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h FROM g),
v AS (SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id),
f0 AS (SELECT doc_id, {fp} AS simhash FROM v),
fp AS (SELECT d.doc_id, COALESCE(f0.simhash, 0) AS simhash
       FROM documents d LEFT JOIN f0 USING (doc_id)),
ch AS (SELECT doc_id, simhash, i AS chunk_no,
              (simhash >> ((i - 1) * 15)) & 32767 AS chunk
       FROM fp, unnest(generate_series(1, 4)) AS t(i)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS ha, b.simhash AS hb
         FROM ch a JOIN ch b
         ON a.chunk_no = b.chunk_no AND a.chunk = b.chunk
            AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
"""


def _int_lsh_bucket_ctes(
    seed: int, n_tables: int, n_planes: int, dim: int = 64
) -> str:
    """Shared CTE block for the r10 integer-plane sign-LSH twins: the
    LCG planes' int64 components as a VALUES table, bucket signs as
    the exact integer ``Σ ve6·w ≥ 0`` over round-6 micro-unit
    embeddings (order-independent — the reason the float mode could
    never be oracled), packed per-(vec, table) bucket keys in ``bk``.
    Expects an ``e(vec_id, v, nrm)`` CTE upstream."""
    from flink_window_dgim_traffic_spark.operators.similarity import (
        _plane_int,
    )

    rows = []
    for t in range(n_tables):
        for i in range(n_planes):
            for k, w in enumerate(_plane_int(seed + i, dim, t)):
                rows.append(f"({t},{i},{k + 1},{w})")
    values = ",\n".join(rows)
    return f"""
p(tbl, pl, k, w) AS (VALUES {values}),
e6 AS (SELECT vec_id, u.i AS k,
       CAST(round(round(v[u.i], 6) * 1000000.0) AS BIGINT) AS ve6
       FROM e, unnest(generate_series(1, {dim})) AS u(i)),
sg AS (SELECT e6.vec_id, p.tbl, p.pl,
       CASE WHEN sum(e6.ve6 * p.w) >= 0 THEN 1 ELSE 0 END AS s
       FROM e6 JOIN p ON p.k = e6.k GROUP BY 1, 2, 3),
bk AS (SELECT vec_id, tbl,
       sum(s * (CAST(1 AS BIGINT) << pl)) AS bucket
       FROM sg GROUP BY vec_id, tbl)"""


_INT_LSH_E_CTE = (
    "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,\n"
    "        sqrt({sqn}) AS nrm FROM embeddings)"
)


def _embedding_neardup_lsh_sql(
    threshold: float = 0.4,
    n_tables: int = 8,
    n_planes: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB twin of similarity.embedding_neardup_lsh(int_planes=
    True): integer-plane buckets (seed 131), candidates from the same
    (table, bucket) equi-join, verification via the oracle-green
    round-6 cosine.  The whole candidate SET is engine-checked, not
    just the verified pairs."""
    e = _INT_LSH_E_CTE.format(sqn=_SQN.format(a="embedding::DOUBLE[]"))
    return f"""
WITH {e},
{_int_lsh_bucket_ctes(131, n_tables, n_planes, dim)},
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM bk a JOIN bk b
         ON a.tbl = b.tbl AND a.bucket = b.bucket
            AND a.vec_id < b.vec_id),
sc AS (SELECT vec_a, vec_b,
       round({_DOT.format(a='ea.v', b='eb.v')} / (ea.nrm * eb.nrm), 6)
         AS score
       FROM cand JOIN e ea ON ea.vec_id = vec_a
       JOIN e eb ON eb.vec_id = vec_b)
SELECT vec_a, vec_b, score FROM sc WHERE score >= {threshold}
"""


def _simsearch_ann_lsh_sql(
    n_query: int = 10,
    k: int = 10,
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB twin of similarity.simsearch_ann_lsh(int_planes=True):
    integer-plane buckets (seed 97), candidates = vectors sharing ANY
    table's bucket with the query, exact round-6 cosine re-rank,
    row_number top-k (score desc, neighbor_id tie-break — the same
    deterministic ordering the green simsearch_topk oracle uses)."""
    e = _INT_LSH_E_CTE.format(sqn=_SQN.format(a="embedding::DOUBLE[]"))
    return f"""
WITH {e},
{_int_lsh_bucket_ctes(97, n_tables, n_planes, dim)},
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bk
       WHERE vec_id < {n_query}),
cand AS (SELECT DISTINCT qb.query_id, bk.vec_id AS neighbor_id
         FROM qb JOIN bk
         ON bk.tbl = qb.tbl AND bk.bucket = qb.bucket
         WHERE bk.vec_id <> qb.query_id),
sc AS (SELECT query_id, neighbor_id,
       round({_DOT.format(a='eq.v', b='en.v')} / (eq.nrm * en.nrm), 6)
         AS score
       FROM cand JOIN e eq ON eq.vec_id = query_id
       JOIN e en ON en.vec_id = neighbor_id)
SELECT query_id, neighbor_id, score, rnk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk FROM sc)
WHERE rnk <= {k}
"""


def _semantic_dedup_lsh_sql(
    threshold: float = 0.4,
    n_tables: int = 8,
    n_planes: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB twin of similarity.semantic_dedup(use_lsh=True,
    int_planes=True): the integer-plane LSH pair graph (exactly
    _embedding_neardup_lsh_sql's verified pairs), closed under the
    same recursive-CTE transitive closure the oracle-green exact
    semantic_dedup uses, min-label per component, keep = (label ==
    vec_id)."""
    e = _INT_LSH_E_CTE.format(sqn=_SQN.format(a="embedding::DOUBLE[]"))
    return f"""
WITH RECURSIVE {e},
{_int_lsh_bucket_ctes(131, n_tables, n_planes, dim)},
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM bk a JOIN bk b
         ON a.tbl = b.tbl AND a.bucket = b.bucket
            AND a.vec_id < b.vec_id),
jp AS (SELECT vec_a, vec_b FROM (
       SELECT vec_a, vec_b,
       round({_DOT.format(a='ea.v', b='eb.v')} / (ea.nrm * eb.nrm), 6)
         AS score
       FROM cand JOIN e ea ON ea.vec_id = vec_a
       JOIN e eb ON eb.vec_id = vec_b)
       WHERE score >= {threshold}),
ed AS (SELECT vec_a AS a, vec_b AS b FROM jp
       UNION SELECT vec_b, vec_a FROM jp),
nodes AS (SELECT DISTINCT a AS doc FROM ed),
reach AS (
  SELECT doc, doc AS r FROM nodes
  UNION
  SELECT reach.doc, ed.b FROM reach JOIN ed ON reach.r = ed.a),
lab AS (SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc)
SELECT v.vec_id,
       CAST(COALESCE(l.cluster_id, v.vec_id) AS BIGINT) AS cluster_id,
       COALESCE(l.cluster_id, v.vec_id) = v.vec_id AS keep
FROM (SELECT vec_id FROM embeddings) v
LEFT JOIN lab l ON l.doc = v.vec_id
"""


def _simhash_pairs_sql(max_hamming: int = 3, bits: int = 60) -> str:
    """DuckDB twin of dedup.simhash_pairs(hash_family='md5'): token →
    60-bit md5 hash → per-bit ±1 vote sums → fingerprint → 4×15-bit
    pigeonhole chunk join → hamming filter.  Bag-of-tokens semantics
    (every occurrence votes) and the single-space/drop-empties
    tokenization both mirror simhash_fingerprints_md5 exactly."""
    votes = ",\n    ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS v{j}" for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT)"
        f" ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tk AS (SELECT doc_id, unnest(ws) AS tok FROM t),
h AS (SELECT doc_id, {_md5_60_sql('tok')} AS h FROM tk WHERE tok <> ''),
v AS (SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id),
f0 AS (SELECT doc_id, {fp} AS simhash FROM v),
fp AS (SELECT d.doc_id, COALESCE(f0.simhash, 0) AS simhash
       FROM documents d LEFT JOIN f0 USING (doc_id)),
ch AS (SELECT doc_id, simhash, i AS chunk_no,
              (simhash >> ((i - 1) * 15)) & 32767 AS chunk
       FROM fp, unnest(generate_series(1, 4)) AS t(i)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS ha, b.simhash AS hb
         FROM ch a JOIN ch b
         ON a.chunk_no = b.chunk_no AND a.chunk = b.chunk
            AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
"""




def _oracle_prelude():
    """Oracle-dict locals from the original oracle_sql() body,
    kept verbatim (indent preserved) and lifted to module scope."""
    jac = (
        "round(CAST(overlap AS DOUBLE) / CAST(na.c + nb.c - overlap AS DOUBLE), 6)"
    )
    # k-core oracle: unroll the SAME 6 simultaneous-peel rounds the
    # Spark kcore_fixed runs (degree -> survivors -> filtered edges),
    # generated by loop so round count stays in one place.  The edge
    # CTE mirrors cowindow_user_edges(events, 60).
    _kc = [
        "WITH wu AS (SELECT DISTINCT"
        " CAST((floor(epoch(ts)/60)+1)*60 AS BIGINT) we,"
        " user_id AS u FROM events),",
        "e0 AS (SELECT DISTINCT a.u AS a, b.u AS b"
        " FROM wu a JOIN wu b USING (we) WHERE a.u != b.u)",
    ]
    for _i in range(6):
        _kc.append(
            f", d{_i} AS (SELECT a, count(*) AS dg FROM e{_i}"
            " GROUP BY a)"
        )
        _kc.append(f", k{_i} AS (SELECT a FROM d{_i} WHERE dg >= 8)")
        _kc.append(
            f", e{_i + 1} AS (SELECT e.a, e.b FROM e{_i} e"
            f" JOIN k{_i} x ON e.a = x.a"
            f" JOIN k{_i} y ON e.b = y.a)"
        )
    _kc.append(
        "SELECT a AS node, CAST(count(*) AS BIGINT) AS core_degree"
        " FROM e6 GROUP BY a"
    )
    kcore_sql = "\n".join(_kc)
    # k-means oracle: unroll the SAME fixed rounds as
    # similarity.kmeans_quantized at the (vec_id, dim) exploded
    # level — quantize, md5-seed, per-round (assign -> floor-mean
    # update with empty-cluster carry), final assignment.
    _km_rounds, _km_k = 2, 8
    _km = [
        "WITH comp AS (SELECT vec_id, i AS dim,"
        " CAST(embedding[i] AS DOUBLE) AS x FROM embeddings,"
        " unnest(generate_series(1, len(embedding))) AS t(i)),",
        "r AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM comp"
        " GROUP BY dim),",
        "q AS (SELECT vec_id, dim, CASE WHEN hi > lo THEN"
        " CAST(round((x - lo) / (hi - lo) * 255.0) AS BIGINT)"
        " ELSE 0 END AS c FROM comp JOIN r USING (dim)),",
        "hs AS (SELECT DISTINCT vec_id, CAST('0x' ||"
        " substr(md5('kmeans:' || CAST(vec_id AS VARCHAR)), 1, 15)"
        " AS BIGINT) AS hv FROM q),",
        "sd AS (SELECT vec_id, rn - 1 AS cluster FROM"
        " (SELECT vec_id, row_number() OVER (ORDER BY hv, vec_id)"
        f" AS rn FROM hs) WHERE rn <= {_km_k}),",
        "c0 AS (SELECT sd.cluster, q.dim, q.c AS cc FROM sd"
        " JOIN q USING (vec_id))",
    ]
    for _i in range(_km_rounds):
        p, n = f"c{_i}", _i + 1
        _km.append(
            f", d{n} AS (SELECT q.vec_id, {p}.cluster,"
            f" sum((q.c - {p}.cc) * (q.c - {p}.cc)) AS dist"
            f" FROM q JOIN {p} USING (dim) GROUP BY 1, 2)"
        )
        _km.append(
            f", a{n} AS (SELECT vec_id, cluster FROM (SELECT *,"
            " row_number() OVER (PARTITION BY vec_id"
            f" ORDER BY dist, cluster) AS rn FROM d{n}) WHERE rn = 1)"
        )
        _km.append(
            f", u{n} AS (SELECT a{n}.cluster, q.dim,"
            f" sum(q.c) // count(*) AS cc FROM a{n}"
            " JOIN q USING (vec_id) GROUP BY 1, 2)"
        )
        _km.append(
            f", c{n} AS (SELECT {p}.cluster, {p}.dim,"
            f" coalesce(u{n}.cc, {p}.cc) AS cc FROM {p}"
            f" LEFT JOIN u{n} ON {p}.cluster = u{n}.cluster"
            f" AND {p}.dim = u{n}.dim)"
        )
    _km.append(
        f", df AS (SELECT q.vec_id, c{_km_rounds}.cluster,"
        f" sum((q.c - c{_km_rounds}.cc) * (q.c - c{_km_rounds}.cc))"
        f" AS dist FROM q JOIN c{_km_rounds} USING (dim)"
        " GROUP BY 1, 2)"
    )
    _km.append(
        "SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,"
        " CAST(dist AS BIGINT) AS dist FROM (SELECT *,"
        " row_number() OVER (PARTITION BY vec_id"
        " ORDER BY dist, cluster) AS rn FROM df) WHERE rn = 1"
    )
    kmeans_sql = "\n".join(_km)
    # shared by the batch op and its streaming twin: the IVM/CDC
    # contract is that incremental maintenance is indistinguishable
    # from the one-shot computation, so the SQL twin IS the same.
    ivm_digest_sql = """
SELECT o_orderstatus, l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1, 2
"""
    cdc_snapshot_sql = """
SELECT user_id, last_us, last_event_id, event_type, value
FROM (SELECT user_id, epoch_us(ts) AS last_us,
             event_id AS last_event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1 AND event_type <> 'error'
"""
    # ANN recall bound (r11): all four ANN deployment shapes share the
    # verdict schema — the query set is vec_id < 10 by construction,
    # so DuckDB recomputes n_queries; the recall predicate is claimed
    # TRUE and proven by the Spark-side integer comparison.
    ann_recall_sql = """
SELECT CAST(count(*) AS BIGINT) AS n_queries, 10 AS k,
       TRUE AS recall_within
FROM embeddings WHERE vec_id < 10
"""
    return {'jac': jac, '_kc': _kc, 'kcore_sql': kcore_sql, '_km': _km, 'kmeans_sql': kmeans_sql, 'ivm_digest_sql': ivm_digest_sql, 'cdc_snapshot_sql': cdc_snapshot_sql, 'ann_recall_sql': ann_recall_sql}

globals().update(_oracle_prelude())


# export everything, including underscore-named helpers, for the
# registry family modules (import * honors __all__)
__all__ = [n for n in list(globals()) if not n.startswith('__')]

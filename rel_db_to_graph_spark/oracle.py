"""DuckDB oracle SQL — the ANSI-SQL twin of every query in ``queries.py``.

Parity rules encoded here (mirrored in the Spark expressions):
  * DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's
    replace-all semantics (only required for non-anchored patterns);
  * sums of doubles go through DECIMAL casts on BOTH sides (order-
    independent, so the value-hash is stable);
  * every rounded value uses the same round(x, 6);
  * md5() is bit-identical in both engines — it anchors fingerprints,
    MinHash, SimHash, and the multimodal decode stub;
  * integer-returning Spark ops (size, row_number-1, counts) are cast to
    long to match DuckDB's BIGINT.
"""

from __future__ import annotations

from rel_db_to_graph_spark.sources.catalog import TABLES, registry_cte

# ---------------------------------------------------------------- shared snippets

REG = registry_cte()


def norm_sql(col: str) -> str:
    """Text normalization — twin of operators/text.py::normalize."""
    return ("trim(regexp_replace(regexp_replace(lower(" + col +
            "), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))")


def ids_cte(table: str, pk: str) -> str:
    """Dense-id assignment — twin of operators/graph_build.py::dense_ids."""
    return (f"SELECT {pk} AS pk, CAST(row_number() OVER (ORDER BY {pk}) - 1 "
            f"AS BIGINT) AS node_id FROM (SELECT DISTINCT {pk} FROM {table})")


def hash_bucket_sql(col: str, num_buckets: int) -> str:
    """Twin of graph_build.py::hash_bucket — Horner parse of the first 4
    hex chars of md5 (bit-identical across engines), mod num_buckets."""
    expr = "CAST(0 AS BIGINT)"
    for c in range(4):
        expr = (f"({expr} * 16 + (strpos('0123456789abcdef', "
                f"substr(md5(CAST({col} AS VARCHAR)), {c + 1}, 1)) - 1))")
    return f"({expr}) % {num_buckets}"


def ids_scalable_cte(table: str, pk: str, num_buckets: int = 64) -> str:
    """Twin of graph_build.py::dense_ids_scalable: the bucketed id
    assignment collapses to one total-order row_number in SQL (DuckDB
    can afford the sort at test SF; Spark avoids it via per-bucket
    ranks + prefix-sum offsets)."""
    return (f"SELECT pk, CAST(row_number() OVER (ORDER BY b, pk) - 1 "
            f"AS BIGINT) AS node_id FROM ("
            f"SELECT {pk} AS pk, {hash_bucket_sql(pk, num_buckets)} AS b "
            f"FROM (SELECT DISTINCT {pk} FROM {table}))")


_STEM = "regexp_replace(regexp_replace({col}, '^[a-z]{{1,2}}_', ''), 'key$', '')"
_REL = "'has' || upper(substr(stem, 1, 1)) || substr(stem, 2)"
_NORM_KEY = "regexp_replace({col}, '^[a-z]{{1,2}}_', '')"

SIGMOID = "1 / (1 + exp(-({z})))"

# ---------------------------------------------------------------- oracle strings

CATALOG_TABLES = REG + """
SELECT table_name, CAST(count(*) AS BIGINT) AS pk_cols,
       CASE WHEN count(*) = 1 THEN 'node'
            WHEN count(*) = 2 THEN 'junction' ELSE 'other' END AS kind
FROM primary_keys GROUP BY table_name
"""

EDGE_CATALOG = REG + f"""
, nodes AS (
    SELECT table_name, min(key) AS key FROM primary_keys
    GROUP BY table_name HAVING count(*) = 1
), fk_edges AS (
    SELECT src_table, {_REL} AS relation, dst_table, pair_table, src_col, dst_col
    FROM (
        SELECT n.table_name AS src_table, f.target_table AS dst_table,
               f.source_table AS pair_table, n.key AS src_col,
               f.from_col AS dst_col,
               {_STEM.format(col='f.from_col')} AS stem
        FROM foreign_keys f JOIN nodes n ON f.source_table = n.table_name)
), jt AS (
    SELECT table_name, key, seq FROM primary_keys
    WHERE table_name IN (SELECT table_name FROM primary_keys
                         GROUP BY table_name HAVING count(*) = 2)
), jn_edges AS (
    SELECT src_table, {_REL} AS relation, dst_table, pair_table, src_col, dst_col
    FROM (
        SELECT ns.table_name AS src_table, nd.table_name AS dst_table,
               s.table_name AS pair_table, s.key AS src_col, d.key AS dst_col,
               {_STEM.format(col='d.key')} AS stem
        FROM jt s
        JOIN jt d ON s.table_name = d.table_name AND s.seq = 0 AND d.seq = 1
        JOIN nodes ns
          ON {_NORM_KEY.format(col='s.key')} = {_NORM_KEY.format(col='ns.key')}
        JOIN nodes nd
          ON {_NORM_KEY.format(col='d.key')} = {_NORM_KEY.format(col='nd.key')})
)
SELECT * FROM fk_edges UNION ALL SELECT * FROM jn_edges
"""

METADATA_UNION = REG + """
SELECT table_name, key, seq,
       CAST(NULL AS VARCHAR) AS source_table, CAST(NULL AS VARCHAR) AS from_col,
       CAST(NULL AS VARCHAR) AS target_table, CAST(NULL AS VARCHAR) AS to_col
FROM primary_keys
UNION ALL
SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
       source_table, from_col, target_table, to_col
FROM foreign_keys
"""

SCAN_PROJECT = "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem"

FILTER_LIKE = """
SELECT p_partkey, p_name, p_type, p_size FROM part
WHERE p_type NOT LIKE '%a%' AND p_size > 20
"""

SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  AND c_acctbal > 0
"""

ANTI_JOIN = """
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""

THREE_TABLE_JOIN = """
SELECT o_orderkey, concat_ws(' - ', c_name, o_orderpriority) AS display, n_name
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
"""

JSON_PROPS = """
SELECT event_id, json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
FROM events
"""

_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ONE_HOT = "SELECT c_custkey, " + ", ".join(
    f"CAST(CASE WHEN c_mktsegment = '{s}' THEN 1 ELSE 0 END AS INTEGER) "
    f"AS seg_{s.lower()}" for s in _SEGS) + " FROM customer"

TOPK_ORDERS = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def _dec_sum(expr: str, alias: str, scale: str = "DECIMAL(27,6)") -> str:
    return f"CAST(SUM(CAST({expr} AS {scale})) AS DOUBLE) AS {alias}"


PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       {_dec_sum('l_quantity', 'sum_qty')},
       {_dec_sum('l_extendedprice', 'sum_base_price')},
       {_dec_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       count(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / count(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

REVENUE_BY_NATION = f"""
SELECT n_name, {_dec_sum('o_totalprice', 'revenue')}, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

_P = SIGMOID.format(z="(o_totalprice - 250000.0) / 100000.0")
EVAL_METRICS = f"""
WITH base AS (
    SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
           CASE WHEN o_totalprice > 250000.0 THEN 1 ELSE 0 END AS yhat,
           {_P} AS p
    FROM orders
), scored AS (
    SELECT y, yhat, -(y * ln(p) + (1 - y) * ln(1 - p)) AS loss FROM base
), agg AS (
    SELECT count(*) AS n,
           SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS tp,
           SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS fp,
           SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS fn,
           CAST(SUM(CAST(loss AS DECIMAL(27,8))) AS DOUBLE) AS loss_sum
    FROM scored
)
SELECT n, round((n - fp - fn) / n, 6) AS acc,
       round(tp / (tp + fp), 6) AS prec,
       round(tp / (tp + fn), 6) AS rec,
       round(loss_sum / n, 6) AS bce
FROM agg
"""

DENSE_IDS = "WITH ids AS (" + ids_cte("customer", "c_custkey") + ") SELECT pk, node_id FROM ids"

DENSE_IDS_SCALABLE = ("WITH ids AS (" + ids_scalable_cte("customer", "c_custkey")
                      + ") SELECT pk, node_id FROM ids")

#: tagged union of both id assignments (q_dense_ids_variants — the
#: round-8 capacity consolidation); each branch is the original twin
DENSE_IDS_VARIANTS = (
    f"SELECT 'sorted' AS variant, pk, node_id FROM ({DENSE_IDS}) "
    "UNION ALL "
    f"SELECT 'bucketed' AS variant, pk, node_id FROM ({DENSE_IDS_SCALABLE})")

NODE_FEATURES = f"""
WITH ids AS ({ids_cte('part', 'p_partkey')})
SELECT node_id, pk, CAST(p_size AS DOUBLE) AS p_size,
       CAST(p_retailprice AS DOUBLE) AS p_retailprice
FROM part JOIN ids ON p_partkey = ids.pk
"""

EDGES_FK = f"""
WITH oid AS ({ids_cte('orders', 'o_orderkey')}),
     cid AS ({ids_cte('customer', 'c_custkey')})
SELECT oid.node_id AS src, cid.node_id AS dst
FROM orders
JOIN oid ON o_orderkey = oid.pk
JOIN cid ON o_custkey = cid.pk
WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
"""

EDGES_JUNCTION = f"""
WITH oid AS ({ids_cte('orders', 'o_orderkey')}),
     pid AS ({ids_cte('part', 'p_partkey')})
SELECT oid.node_id AS src, pid.node_id AS dst
FROM lineitem
JOIN oid ON l_orderkey = oid.pk
JOIN pid ON l_partkey = pid.pk
WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
"""

EDGES_ATTR = f"""
WITH oid AS ({ids_cte('orders', 'o_orderkey')}),
     pid AS ({ids_cte('part', 'p_partkey')})
SELECT oid.node_id AS src, pid.node_id AS dst,
       CAST(l_quantity AS DOUBLE) AS l_quantity,
       CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
FROM lineitem
JOIN oid ON l_orderkey = oid.pk
JOIN pid ON l_partkey = pid.pk
WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
"""

DEGREE = f"""
WITH cid AS ({ids_cte('customer', 'c_custkey')}),
     oid AS ({ids_cte('orders', 'o_orderkey')}),
     nid AS ({ids_cte('nation', 'n_nationkey')}),
     oc AS (SELECT cid.node_id AS dst FROM orders
            JOIN oid ON o_orderkey = oid.pk JOIN cid ON o_custkey = cid.pk
            WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL),
     cn AS (SELECT cid.node_id AS src FROM customer
            JOIN cid ON c_custkey = cid.pk JOIN nid ON c_nationkey = nid.pk
            WHERE c_custkey IS NOT NULL AND c_nationkey IS NOT NULL),
     ends AS (SELECT dst AS node_id FROM oc UNION ALL SELECT src FROM cn),
     cnt AS (SELECT node_id, count(*) AS cnt FROM ends GROUP BY node_id)
SELECT cid.node_id, CAST(coalesce(cnt.cnt + 1, 1) AS BIGINT) AS degree
FROM cid LEFT JOIN cnt ON cid.node_id = cnt.node_id
"""

_FWD_COUNTS = [
    ("nation", "hasRegion", "region",
     "SELECT count(*) FROM nation JOIN region ON n_regionkey = r_regionkey "
     "WHERE n_nationkey IS NOT NULL AND n_regionkey IS NOT NULL"),
    ("customer", "hasNation", "nation",
     "SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
     "WHERE c_custkey IS NOT NULL AND c_nationkey IS NOT NULL"),
    ("supplier", "hasNation", "nation",
     "SELECT count(*) FROM supplier JOIN nation ON s_nationkey = n_nationkey "
     "WHERE s_suppkey IS NOT NULL AND s_nationkey IS NOT NULL"),
    ("orders", "hasCust", "customer",
     "SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
     "WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL"),
    ("orders", "hasPart", "part",
     "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
     "JOIN part ON l_partkey = p_partkey "
     "WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL"),
]

_PKS = {"region": "r_regionkey", "nation": "n_nationkey",
        "customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
        "orders": "o_orderkey", "events": "event_id",
        "documents": "doc_id", "embeddings": "vec_id"}


def _hetero_counts_sql() -> str:
    rows = []
    for s, r, d, cnt in _FWD_COUNTS:
        rows.append(f"SELECT '{s}' AS src_table, '{r}' AS relation, "
                    f"'{d}' AS dst_table, ({cnt}) AS n_edges")
        rows.append(f"SELECT '{d}', 'REVERSE_{r}', '{s}', ({cnt})")
    for t in TABLES:
        if t == "lineitem":
            continue
        rows.append(f"SELECT '{t}', 'SELF_LOOP', '{t}', "
                    f"(SELECT count(DISTINCT {_PKS[t]}) FROM {t})")
    return " UNION ALL ".join(rows)


HETERO_COUNTS = _hetero_counts_sql()

SELF_LOOPS = ("WITH cid AS (" + ids_cte("customer", "c_custkey") +
              ") SELECT node_id AS src, node_id AS dst FROM cid")

MSG_AGG = f"""
WITH cid AS ({ids_cte('customer', 'c_custkey')}),
     msgs AS (SELECT node_id, count(*) AS n_msgs,
                     {_dec_sum('o_totalprice', 'sum_msg')}
              FROM orders JOIN cid ON o_custkey = cid.pk GROUP BY node_id)
SELECT cid.node_id, coalesce(n_msgs, 0) AS n_msgs,
       coalesce(sum_msg, 0.0) AS sum_msg,
       round({SIGMOID.format(z='coalesce(sum_msg, 0.0) / 1000000.0')}, 6) AS act
FROM cid LEFT JOIN msgs ON cid.node_id = msgs.node_id
"""

MSG_AGG_WEIGHTED = f"""
WITH oid AS ({ids_cte('orders', 'o_orderkey')}),
     pid AS ({ids_cte('part', 'p_partkey')}),
     msgs AS (SELECT pid.node_id AS node_id, count(*) AS n_msgs,
                     {_dec_sum('l_quantity * o_totalprice', 'sum_wmsg')}
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN oid ON l_orderkey = oid.pk
              JOIN pid ON l_partkey = pid.pk
              WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
              GROUP BY pid.node_id)
SELECT pid.node_id, coalesce(n_msgs, 0) AS n_msgs,
       coalesce(sum_wmsg, 0.0) AS sum_wmsg
FROM pid LEFT JOIN msgs ON pid.node_id = msgs.node_id
"""

KEY_SKEW = """
WITH tot AS (SELECT count(*) AS n FROM events),
     g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
           FROM events GROUP BY user_id)
SELECT user_id, n_rows,
       CAST(floor(n_rows * 1000000.0 / tot.n) AS BIGINT) AS share_ppm
FROM g, tot
ORDER BY n_rows DESC, user_id
LIMIT 20
"""


def _zorder_sql(c1: str, c2: str, bits: int) -> str:
    """Twin of functions/zorder.py::zorder_key — identical bit shape."""
    terms = []
    for i in range(bits):
        terms.append(f"((({c1} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({c2} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


ZORDER_KEY = f"""
SELECT p_partkey, p_size,
       CAST(p_partkey % 1024 AS BIGINT) AS bucket,
       CAST({_zorder_sql('CAST(p_size AS BIGINT)',
                         'CAST(p_partkey % 1024 AS BIGINT)', 10)}
            AS BIGINT) AS zkey
FROM part
"""

RECOMMEND = f"""
WITH anchor AS (SELECT min(l_orderkey) AS ok FROM lineitem),
     basket AS (SELECT DISTINCT l_partkey FROM lineitem, anchor
                WHERE l_orderkey = ok),
     centroid AS (
        SELECT CAST(SUM(CAST(p_size AS DECIMAL(27,6))) AS DOUBLE) / count(p_size) AS cx,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(27,6))) AS DOUBLE) / count(p_retailprice) AS cy
        FROM part JOIN basket ON p_partkey = l_partkey),
     scored AS (
        SELECT p_partkey,
               round((CAST(p_size AS DOUBLE) * cx + CAST(p_retailprice AS DOUBLE) * cy)
                     / (sqrt(CAST(p_size AS DOUBLE) * CAST(p_size AS DOUBLE)
                             + CAST(p_retailprice AS DOUBLE) * CAST(p_retailprice AS DOUBLE))
                        * sqrt(cx * cx + cy * cy)), 6) AS score
        FROM part, centroid
        WHERE NOT EXISTS (SELECT 1 FROM basket WHERE l_partkey = p_partkey))
SELECT p_partkey, score, round({SIGMOID.format(z='score')}, 6) AS prob
FROM scored ORDER BY score DESC, p_partkey LIMIT 10
"""

_NORM_TEXT = norm_sql("text")

TEXT_STATS = f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents)
SELECT doc_id,
       CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(norm, '[a-z0-9]{{1,4}}')) AS BIGINT) AS n_subwords,
       CAST(length(norm) AS BIGINT) AS n_chars_norm
FROM n
"""

_STOPLIST = "['the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is']"
TEXT_QUALITY = f"""
WITH n AS (SELECT doc_id, text, {_NORM_TEXT} AS norm FROM documents),
     m AS (SELECT doc_id,
                  length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) / length(text) AS punct_ratio,
                  length(replace(norm, ' ', '')) / len(string_split(norm, ' ')) AS avg_len,
                  len(list_filter(string_split(norm, ' '),
                                  t -> list_contains({_STOPLIST}, t)))
                  / len(string_split(norm, ' ')) AS stop_ratio
           FROM n)
SELECT doc_id, round(punct_ratio, 6) AS punct_ratio,
       round({SIGMOID.format(z='0.4 * avg_len + 2.0 * stop_ratio - 5.0 * punct_ratio - 2.0')}, 6) AS quality
FROM m
"""

_LANG_LISTS = {
    "en": "['the', 'a', 'of', 'and', 'to', 'in', 'is']",
    "de": "['der', 'die', 'das', 'und', 'ist', 'nicht']",
    "fr": "['le', 'la', 'les', 'et', 'est', 'une']",
    "es": "['el', 'la', 'los', 'y', 'es', 'una']",
}


def _lang_id_sql() -> str:
    hits = ", ".join(
        f"len(list_filter(toks, t -> list_contains({lst}, t))) AS h_{lang}"
        for lang, lst in _LANG_LISTS.items())
    langs = list(_LANG_LISTS)
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"h_{lang} > 0"]
        conds += [f"h_{lang} > h_{o}" for o in langs[:i]]
        conds += [f"h_{lang} >= h_{o}" for o in langs[i + 1:]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"""
WITH n AS (SELECT doc_id, lang, string_split({_NORM_TEXT}, ' ') AS toks
           FROM documents),
     h AS (SELECT doc_id, lang, {hits} FROM n)
SELECT doc_id, lang, CASE {' '.join(cases)} ELSE 'und' END AS pred_lang FROM h
"""


LANG_ID = _lang_id_sql()

FINGERPRINT = f"SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint FROM documents"

EXACT_DEDUP = f"""
WITH fp AS (SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint FROM documents)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS keep_id
FROM fp GROUP BY fingerprint HAVING count(*) > 1
"""

# shingle list (non-distinct; min over multiset == min over set)
_SHINGLES = ("list_transform(range(1, greatest(length(norm) - 7, 1) + 1), "
             "i -> substr(norm, i, 8))")

_HEX16 = "0123456789abcdef"


def _hex32_sql(d: str) -> str:
    """Horner parse of the first 8 hex chars of digest expr ``d`` — twin
    of operators/dedup.py::_hex32."""
    expr = "CAST(0 AS BIGINT)"
    for c in range(8):
        expr = (f"({expr} * 16 + (strpos('{_HEX16}', substr({d}, {c + 1}, 1)) - 1))")
    return expr


# one md5 per shingle, k affine hashes over the parsed ints (twin of
# shingle_hashes + minhash_signature)
_SHINGLE_HASHES = f"list_transform(shset, s -> {_hex32_sql('md5(s)')})"


def _sig(i: int) -> str:
    from rel_db_to_graph_spark.operators.dedup import MOD, hash_params
    a, b = hash_params(i)
    return (f"list_min(list_transform(hashes, h -> ({a} * h + {b}) % {MOD}))")


def _band(b: int) -> str:
    parts = " || '|' || ".join(f"CAST(sig_{b * 4 + r} AS VARCHAR)" for r in range(4))
    return f"md5({parts})"


def _minhash_sql() -> str:
    sigs = ", ".join(f"{_sig(i)} AS sig_{i}" for i in (0, 3, 12, 15))
    return f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
     sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shset FROM n),
     hs AS (SELECT doc_id, {_SHINGLE_HASHES} AS hashes FROM sh),
     s AS (SELECT doc_id, {sigs} FROM hs)
SELECT doc_id, sig_0 AS sig_first, sig_15 AS sig_last FROM s
"""


MINHASH = _minhash_sql()


def _near_dup_sql(threshold: float = 0.5) -> str:
    sigs = ", ".join(f"{_sig(i)} AS sig_{i}" for i in range(16))
    bands = ", ".join(f"{_band(b)}" for b in range(4))
    return f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
     sh0 AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shset FROM n),
     hs AS (SELECT doc_id, shset, {_SHINGLE_HASHES} AS hashes FROM sh0),
     s AS (SELECT doc_id, shset, {sigs} FROM hs),
     s2 AS (SELECT doc_id, shset, [{bands}] AS bands FROM s),
     e AS (SELECT doc_id, i AS band, bands[CAST(i + 1 AS INTEGER)] AS key
           FROM s2, range(0, 4) t(i)),
     pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM e a JOIN e b ON a.band = b.band AND a.key = b.key
               WHERE a.doc_id < b.doc_id),
     j AS (SELECT id_a, id_b,
                  len(list_intersect(sa.shset, sb.shset)) AS inter,
                  len(sa.shset) AS la, len(sb.shset) AS lb
           FROM pairs
           JOIN s2 sa ON sa.doc_id = id_a
           JOIN s2 sb ON sb.doc_id = id_b)
SELECT id_a, id_b, round(inter / (la + lb - inter), 6) AS jaccard
FROM j WHERE round(inter / (la + lb - inter), 6) >= {threshold}
"""


NEAR_DUP_PAIRS = _near_dup_sql()


def _dedup_clusters_sql() -> str:
    """Twin of queries.q_dedup_clusters: connected components of the
    near-dup pair graph via recursive transitive closure (exact but
    exponential-ish — oracle-only; the Spark side is the log-round
    label-propagation in operators/components.py)."""
    return f"""
WITH RECURSIVE
nd AS ({_near_dup_sql()}),
edges AS (SELECT id_a AS a, id_b AS b FROM nd
          UNION ALL
          SELECT id_b AS a, id_a AS b FROM nd),
verts AS (SELECT DISTINCT a AS v FROM edges),
reach(v, r) AS (
    SELECT v, v FROM verts
    UNION
    SELECT reach.v, e.b FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS n_members,
       CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM comp
"""


DEDUP_CLUSTERS = _dedup_clusters_sql()


def _draw_sql(key: str, seed: int) -> str:
    """Twin of operators/sample.py::hash_draw — md5 of 'key|seed', first
    8 hex chars Horner-parsed, divided by 2^32 (exact in doubles)."""
    d = f"md5(CAST({key} AS VARCHAR) || '|{seed}')"
    return f"({_hex32_sql(d)} / 4294967296.0)"


def _edge_draw_sql(tag: str) -> str:
    """Twin of the md5 draw variant in operators/sampling.py /
    split.py: md5('src:dst:tag'), used either as a lexicographic rank
    key (neighbor sampling) or Horner-parsed to a 32-bit int (split
    threshold, corrupt-dst modulus)."""
    return (f"md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)"
            f" || ':{tag}')")


#: L1 twin (upgrades link_split from rows-only): same dense-id FK edge
#: derivation as EDGES_FK, same md5-draw u = hex32/2^32, same 0.85 cut.
LINK_SPLIT = f"""
WITH e AS ({EDGES_FK}),
d AS (SELECT ({_hex32_sql(_edge_draw_sql('42'))} / 4294967296.0) AS u
      FROM e)
SELECT CASE WHEN u < CAST(0.85 AS DOUBLE) THEN 'train' ELSE 'val' END
           AS split,
       count(*) AS n_edges
FROM d GROUP BY 1
"""

#: L2 twin (upgrades neighbor_sample from rows-only): unrolled 2-hop
#: fanout-[3,2] sampling — per-src row_number over the md5 rank key,
#: frontier = distinct sampled dsts. MATERIALIZED per the iterative-CTE
#: rule (each hop re-references the edge set).
NEIGHBOR_SAMPLE = f"""
WITH e AS MATERIALIZED ({EDGES_JUNCTION}),
seeds AS (SELECT DISTINCT src FROM e ORDER BY src LIMIT 10),
r0 AS (SELECT e.src, e.dst,
              row_number() OVER (
                  PARTITION BY e.src
                  ORDER BY {_edge_draw_sql('42')}, e.dst) AS rk
       FROM e JOIN seeds USING (src)),
h0 AS MATERIALIZED (SELECT src, dst FROM r0 WHERE rk <= 3),
f1 AS (SELECT DISTINCT dst AS src FROM h0),
r1 AS (SELECT e.src, e.dst,
              row_number() OVER (
                  PARTITION BY e.src
                  ORDER BY {_edge_draw_sql('43')}, e.dst) AS rk
       FROM e JOIN f1 USING (src)),
h1 AS (SELECT src, dst FROM r1 WHERE rk <= 2)
SELECT src, dst, CAST(0 AS INTEGER) AS hop FROM h0
UNION ALL
SELECT src, dst, CAST(1 AS INTEGER) AS hop FROM h1
"""

#: L3 twin (upgrades negative_sample from rows-only): positives ∪
#: (md5-drawn corrupt dst mod |customer|, false negatives rejected by
#: NOT EXISTS — the Spark side's left_anti).
NEGATIVE_SAMPLE = f"""
WITH e AS MATERIALIZED ({EDGES_FK}),
n AS (SELECT count(*) AS n_nodes FROM customer),
pos AS (SELECT src, dst, CAST(1 AS INTEGER) AS label FROM e),
negs AS (SELECT src,
                CAST({_hex32_sql(_edge_draw_sql('0:42'))} % n.n_nodes
                     AS BIGINT) AS dst,
                CAST(0 AS INTEGER) AS label
         FROM e, n)
SELECT * FROM pos
UNION ALL
SELECT g.src, g.dst, g.label FROM negs g
WHERE NOT EXISTS (SELECT 1 FROM e
                  WHERE e.src = g.src AND e.dst = g.dst)
"""


def _hetero_neighbor_sample_sql() -> str:
    """L2-heterogeneous twin (upgrades hetero_neighbor_sample from
    rows-only): replays sample_hetero_subgraph over the FULL build_graph
    edge dict — 5 FK/junction types + their reverses + per-table self
    loops, scalable (bucketed) dense ids — from 5 customer seeds,
    fanouts [2, 2], md5 rank keys, per-edge-type seeds derived exactly
    like operators/sampling.py::_edge_type_seed. The SQL is GENERATED
    from the same edge catalog the Spark side infers, so a drift in
    either side's graph assembly (missing reverse type, wrong per-type
    seed, frontier not unioned across landing types) hash-mismatches."""
    import hashlib

    from rel_db_to_graph_spark.plans.inference import edge_catalog_py

    def type_seed(s: str, rel: str, d: str) -> int:
        tag = f"{s}|{rel}|{d}".encode()
        return 42 + int.from_bytes(hashlib.md5(tag).digest()[:4], "big")

    from rel_db_to_graph_spark.plans.inference import node_tables_py

    pks = dict(node_tables_py())     # derived, not hand-copied: a
    ecat = edge_catalog_py()         # registry change flows into both

    # edge-type CTEs (dense scalable ids, same null-drop as edge_pairs)
    ctes = [f"{t}_ids AS MATERIALIZED ({ids_scalable_cte(t, pk)})"
            for t, pk in pks.items()]
    etype_cte: dict[tuple[str, str, str], str] = {}
    for e in ecat:
        s, rel, d = e["src_table"], e["relation"], e["dst_table"]
        name = f"e_{s}_{rel}_{d}"
        ctes.append(
            f"{name} AS MATERIALIZED ("
            f"SELECT si.node_id AS src, di.node_id AS dst "
            f"FROM {e['pair_table']} "
            f"JOIN {s}_ids si ON {e['src_col']} = si.pk "
            f"JOIN {d}_ids di ON {e['dst_col']} = di.pk "
            f"WHERE {e['src_col']} IS NOT NULL "
            f"AND {e['dst_col']} IS NOT NULL)")
        etype_cte[(s, rel, d)] = name
    for e in ecat:
        s, rel, d = e["src_table"], e["relation"], e["dst_table"]
        if s == d:       # build_graph skips self-type reverses (C:245)
            continue
        name = f"e_{d}_REVERSE_{rel}_{s}"
        ctes.append(f"{name} AS (SELECT dst AS src, src AS dst "
                    f"FROM {etype_cte[(s, rel, d)]})")
        etype_cte[(d, f"REVERSE_{rel}", s)] = name
    for t in pks:                                      # self loops
        name = f"e_{t}_SELF_LOOP_{t}"
        ctes.append(f"{name} AS (SELECT node_id AS src, node_id AS dst "
                    f"FROM {t}_ids)")
        etype_cte[(t, "SELF_LOOP", t)] = name

    ctes.append("f0_customer AS (SELECT node_id FROM customer_ids "
                "ORDER BY node_id LIMIT 5)")

    hop_blocks: list[tuple[tuple[str, str, str], int, str]] = []
    frontier = {"customer": "f0_customer"}
    for hop in (0, 1):
        nxt: dict[str, list[str]] = {}
        for key in sorted(etype_cte):
            s, rel, d = key
            if s not in frontier:
                continue
            tag = type_seed(s, rel, d) + hop
            hname = f"h{hop}_{s}_{rel}_{d}"
            ctes.append(
                f"{hname} AS MATERIALIZED (SELECT src, dst FROM ("
                f"SELECT e.src, e.dst, row_number() OVER ("
                f"PARTITION BY e.src ORDER BY "
                f"md5(CAST(e.src AS VARCHAR) || ':' || "
                f"CAST(e.dst AS VARCHAR) || ':{tag}'), e.dst) AS rk "
                f"FROM {etype_cte[key]} e "
                f"JOIN {frontier[s]} f ON e.src = f.node_id) "
                f"WHERE rk <= 2)")
            hop_blocks.append((key, hop, hname))
            nxt.setdefault(d, []).append(hname)
        frontier = {}
        for d, parts in nxt.items():
            fname = f"f{hop + 1}_{d}"
            union = " UNION ".join(f"SELECT dst AS node_id FROM {p}"
                                   for p in parts)
            ctes.append(f"{fname} AS MATERIALIZED ({union})")
            frontier[d] = fname

    selects = [
        f"SELECT '{s}' AS src_table, '{rel}' AS relation, "
        f"'{d}' AS dst_table, CAST({hop} AS INTEGER) AS hop, "
        f"count(*) AS n_edges FROM {hname} HAVING count(*) > 0"
        for (s, rel, d), hop, hname in hop_blocks]
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(selects))


HETERO_NEIGHBOR_SAMPLE = _hetero_neighbor_sample_sql()


HASH_SAMPLE = f"""
WITH d AS (SELECT doc_id, lang, {_draw_sql('doc_id', 7)} AS draw,
                  CASE lang WHEN 'en' THEN CAST(0.25 AS DOUBLE)
                            WHEN 'de' THEN CAST(1.0 AS DOUBLE)
                            WHEN 'fr' THEN CAST(0.5 AS DOUBLE)
                            ELSE CAST(0.1 AS DOUBLE) END AS rate
           FROM documents)
SELECT doc_id, lang, draw FROM d WHERE draw < rate
"""

SAMPLE_TOPK = f"""
SELECT doc_id, {_draw_sql('doc_id', 3)} AS draw
FROM documents ORDER BY draw, doc_id LIMIT 50
"""

#: packed-doc CTE shared by TOKEN_PACK / CHUNK_FILL — twin of
#: operators/pack.py::pack_documents(budget=512): the bucketed cumsum
#: collapses to one total-order window in SQL
_PACKED_512 = f"""
n AS (SELECT doc_id, {{norm}} AS norm FROM documents),
t AS (SELECT doc_id,
             CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
             {hash_bucket_sql('doc_id', 64)} AS b
      FROM n),
p AS (SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY b, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_offset
      FROM t),
packed AS (SELECT doc_id, n_tokens, start_offset,
                  CAST(floor(start_offset / 512.0) AS BIGINT) AS first_chunk,
                  CAST(floor((start_offset + greatest(n_tokens - 1, 0)) / 512.0)
                       AS BIGINT) AS last_chunk
           FROM p)
"""

DOC_CHUNKS = f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
c AS (SELECT doc_id, norm,
             unnest(range(0, CAST(ceil(greatest(length(norm) - 50, 1)
                                       / 150.0) AS BIGINT))) AS chunk_id
      FROM n)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       substr(norm, CAST(chunk_id * 150 + 1 AS INTEGER), 200) AS chunk_text,
       CAST(length(substr(norm, CAST(chunk_id * 150 + 1 AS INTEGER), 200))
            AS BIGINT) AS n_chars
FROM c
"""


def _dup_ratio_sql(n: int) -> str:
    parts = ", ".join(f"toks[i + {j}]" for j in range(n))
    grams = (f"list_transform(range(1, greatest(len(toks) - {n - 1}, 1) + 1), "
             f"i -> concat_ws(' ', {parts}))")
    return (f"round(1.0 - CAST(len(list_distinct({grams})) AS DOUBLE) "
            f"/ len({grams}), 6)")


REPETITION = f"""
WITH n AS (SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS toks FROM documents)
SELECT doc_id, {_dup_ratio_sql(2)} AS dup_2gram_ratio,
       {_dup_ratio_sql(3)} AS dup_3gram_ratio
FROM n
"""

SALTED_AGG = f"""
SELECT o_orderpriority,
       {_dec_sum('l_extendedprice * (1.0 - l_discount)', 'revenue')},
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

DEGREE_HISTOGRAM = f"""
WITH d AS ({DEGREE})
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM d GROUP BY degree
"""


def _pagerank_sql(n_iter: int = 5) -> str:
    """Twin of queries.q_pagerank — the fixed iteration count unrolls
    into stacked CTEs (the IVF-oracle pattern). Scalar math is DOUBLE
    with the exact expression shape of operators/pagerank.py (IEEE →
    same bits); the per-vertex sums accumulate in DECIMAL(38,12), so
    they are order-independent in both engines."""
    parts = ["""
edges AS (
    SELECT o_orderkey * 4 AS a, o_custkey * 4 + 1 AS b FROM orders
    UNION ALL
    SELECT c_custkey * 4 + 1, c_nationkey * 4 + 2 FROM customer),
verts AS (SELECT DISTINCT v FROM
          (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
outdeg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
edeg AS (SELECT e.a, e.b, o.deg FROM edges e JOIN outdeg o USING (a)),
r0 AS (SELECT v, CAST(CAST(1.0 AS DOUBLE) / nn.n AS DECIMAL(38,12)) AS rank
       FROM verts, nn)"""]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(f"""
c{i} AS (SELECT e.b AS v,
               CAST(CAST(r.rank AS DOUBLE) / e.deg AS DECIMAL(38,12)) AS c
        FROM edeg e JOIN r{p} r ON e.a = r.v),
s{i} AS (SELECT v, sum(c) AS s FROM c{i} GROUP BY v),
dm{i} AS (SELECT coalesce(sum(r.rank), CAST(0 AS DECIMAL(38,12))) AS dm
         FROM r{p} r
         WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.a = r.v)),
r{i} AS (SELECT verts.v,
               CAST((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                    + CAST(0.85 AS DOUBLE)
                      * (coalesce(CAST(s{i}.s AS DOUBLE), 0.0)
                         + CAST(dm{i}.dm AS DOUBLE) / nn.n)
                    AS DECIMAL(38,12)) AS rank
        FROM verts LEFT JOIN s{i} USING (v), nn, dm{i})""")
    body = ",".join(parts)
    return f"""
WITH {body}
SELECT v, round(CAST(rank AS DOUBLE), 6) AS rank FROM r{n_iter}
"""


PAGERANK = _pagerank_sql()

RETENTION_COHORTS = """
WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
first AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
act AS (SELECT DISTINCT user_id, week FROM e)
SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM act a JOIN first f USING (user_id)
GROUP BY f.cohort_week, a.week - f.cohort_week
"""


def _pii_scrub_sql() -> str:
    """Twin of queries.q_pii_scrub — same planted PII, same pattern
    order (operators/scrub.py::PII_PATTERNS), DuckDB regexp_replace
    with the 'g' flag for replace-all parity."""
    from rel_db_to_graph_spark.operators.scrub import PII_PATTERNS
    planted = ("text || ' contact user' || CAST(doc_id AS VARCHAR) || "
               "'@example.com via http://host.io/d/' || "
               "CAST(doc_id AS VARCHAR) || ' from 10.0.0.1'")
    scrub = planted
    counts = []
    for token, pat in PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all({scrub}, '{pat}'))")
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    total = " + ".join(counts)
    return f"""
SELECT doc_id, md5({scrub}) AS scrub_digest,
       CAST({total} AS BIGINT) AS n_redactions
FROM documents
"""


PII_SCRUB = _pii_scrub_sql()

INCREMENTAL_DEDUP = f"""
WITH fp AS (SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint FROM documents),
new_docs AS (SELECT * FROM fp WHERE doc_id >= 400),
old_docs AS (SELECT * FROM fp WHERE doc_id < 400),
fresh AS (SELECT n.* FROM new_docs n
          WHERE NOT EXISTS (SELECT 1 FROM old_docs o
                            WHERE o.fingerprint = n.fingerprint))
SELECT min(doc_id) AS doc_id, fingerprint
FROM fresh GROUP BY fingerprint
"""

CORPUS_MIX = f"""
WITH b AS (SELECT doc_id, source, {hash_bucket_sql('doc_id', 64)} AS b
           FROM documents),
o AS (SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY b, doc_id)
                  - 1 AS BIGINT) AS ordinal
      FROM b)
SELECT doc_id, source, ordinal,
       CAST(ordinal * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
                       ELSE 4 END) AS BIGINT) AS pass
FROM o ORDER BY pass, source, ordinal LIMIT 200
"""

#: twin of operators/mix.py::corpus_mix_temperature (tau=0.5, quant=100):
#: weights = ceil(100*sqrt(n_s/max_n)) (IEEE sqrt — bit-identical), WFQ
#: virtual time = (ordinal+1)/weight (exact integer-over-integer double
#: division), top-200 prefix of the (vtime, source, ordinal) order.
CORPUS_MIX_TEMP = f"""
WITH b AS (SELECT doc_id, source, {hash_bucket_sql('doc_id', 64)} AS b
           FROM documents),
o AS (SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY b, doc_id)
                  - 1 AS BIGINT) AS ordinal
      FROM b),
c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
mx AS (SELECT max(n) AS m FROM c),
w AS (SELECT source, CAST(ceil(100 * sqrt(CAST(n AS DOUBLE) / m)) AS BIGINT)
             AS weight
      FROM c, mx)
SELECT doc_id, o.source, ordinal, weight,
       (ordinal + 1) / weight AS vtime
FROM o JOIN w ON o.source = w.source
ORDER BY vtime, o.source, ordinal LIMIT 200
"""

#: twin of queries.py::q_dense_ids_increment — append-only dense ids:
#: yesterday's snapshot (%3 != 0 keys) keeps its bucketed-order ids;
#: the remaining keys append above max_id in the same bucketed order.
DENSE_IDS_INCREMENT = f"""
WITH old_src AS (SELECT DISTINCT o_orderkey AS pk FROM orders
                 WHERE o_orderkey % 3 <> 0),
old_b AS (SELECT pk, {hash_bucket_sql('pk', 64)} AS b FROM old_src),
old_ids AS (SELECT pk, CAST(row_number() OVER (ORDER BY b, pk) - 1
                 AS BIGINT) AS node_id FROM old_b),
new_src AS (SELECT DISTINCT o_orderkey AS pk FROM orders
            WHERE o_orderkey NOT IN (SELECT pk FROM old_ids)),
new_b AS (SELECT pk, {hash_bucket_sql('pk', 64)} AS b FROM new_src),
base AS (SELECT count(*) AS n FROM old_ids),
new_ids AS (SELECT pk, CAST(n + row_number() OVER (ORDER BY b, pk) - 1
                 AS BIGINT) AS node_id FROM new_b, base)
SELECT pk, node_id FROM old_ids
UNION ALL SELECT pk, node_id FROM new_ids
"""

#: twin of queries.py::q_graph_increment — the incremental edge union
#: equals a from-scratch edge build over the MERGED mapping (old ids
#: immutable, batch appended above max), which is what this computes.
GRAPH_INCREMENT = f"""
WITH old_src AS (SELECT DISTINCT o_orderkey AS pk FROM orders
                 WHERE o_orderkey % 3 <> 0),
old_b AS (SELECT pk, {hash_bucket_sql('pk', 64)} AS b FROM old_src),
old_ids AS (SELECT pk, CAST(row_number() OVER (ORDER BY b, pk) - 1
                 AS BIGINT) AS node_id FROM old_b),
new_src AS (SELECT DISTINCT o_orderkey AS pk FROM orders
            WHERE o_orderkey NOT IN (SELECT pk FROM old_ids)),
new_b AS (SELECT pk, {hash_bucket_sql('pk', 64)} AS b FROM new_src),
base AS (SELECT count(*) AS n FROM old_ids),
new_ids AS (SELECT pk, CAST(n + row_number() OVER (ORDER BY b, pk) - 1
                 AS BIGINT) AS node_id FROM new_b, base),
merged AS (SELECT pk, node_id FROM old_ids
           UNION ALL SELECT pk, node_id FROM new_ids),
cust AS ({ids_scalable_cte('customer', 'c_custkey')})
SELECT m.node_id AS src, c.node_id AS dst
FROM orders o
JOIN merged m ON o.o_orderkey = m.pk
JOIN cust c ON o.o_custkey = c.pk
"""

CORPUS_STATS = f"""
WITH n AS (SELECT doc_id, lang, source, {_NORM_TEXT} AS norm FROM documents),
t AS (SELECT lang, source,
             CAST(len(string_split(norm, ' ')) AS BIGINT) AS nt
      FROM n)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       quantile_cont(nt, 0.25) AS tok_p25,
       quantile_cont(nt, 0.5) AS tok_p50,
       quantile_cont(nt, 0.75) AS tok_p75,
       (CAST(sum(nt) AS DOUBLE) / count(*)) AS tok_mean,
       CAST(min(nt) AS BIGINT) AS tok_min,
       CAST(max(nt) AS BIGINT) AS tok_max
FROM t
"""

#: exact side of the sketch-accuracy audit; within_tol is asserted TRUE
#: so a Spark sketch outside tolerance hash-mismatches (driver-red).
CORPUS_STATS_APPROX_ERR = f"""
WITH n AS (SELECT lang, source, {_NORM_TEXT} AS norm FROM documents),
t AS (SELECT lang, source,
             CAST(len(string_split(norm, ' ')) AS BIGINT) AS nt
      FROM n),
m AS (SELECT CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
             CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
             round(quantile_cont(nt, 0.25), 6) AS tok_p25,
             round(quantile_cont(nt, 0.5), 6) AS tok_p50,
             round(quantile_cont(nt, 0.75), 6) AS tok_p75
      FROM t)
SELECT 'n_langs' AS metric, n_langs AS exact, TRUE AS within_tol FROM m
UNION ALL SELECT 'n_sources', n_sources, TRUE FROM m
UNION ALL SELECT 'tok_p25', tok_p25, TRUE FROM m
UNION ALL SELECT 'tok_p50', tok_p50, TRUE FROM m
UNION ALL SELECT 'tok_p75', tok_p75, TRUE FROM m
"""

#: integer-quantized idf (idf_milli = 1000·N div df) so the keyword
#: ranking is bit-identical across engines — see stats.py::tfidf_keywords
TFIDF_KEYWORDS = f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
terms AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM n),
t AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM terms WHERE term <> '' GROUP BY doc_id, term),
d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY term),
nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_total
       FROM documents)
SELECT doc_id, rank, term, score FROM (
    SELECT t.doc_id, t.term,
           t.tf * ((1000 * nn.n_total) // d.df) AS score,
           CAST(row_number() OVER (
               PARTITION BY t.doc_id
               ORDER BY t.tf * ((1000 * nn.n_total) // d.df) DESC,
                        t.term ASC) AS INT) AS rank
    FROM t JOIN d USING (term) CROSS JOIN nn
) WHERE rank <= 3
"""

#: BM25 query-by-example twin (stats.py::bm25_retrieval): same
#: integer-rational scoring — idf_milli = (1000·N) div df, per-term
#: score_milli = (idf_milli·tf·22000·T) div (10·T·tf + 3·T + 9·dl·N)
#: (k1=1.2, b=0.75 folded exact) — so the ranking is bit-identical.
BM25_RETRIEVAL = f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
terms AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM n),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM terms WHERE term <> '' GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
       GROUP BY doc_id),
d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS total_toks FROM dl),
q AS (SELECT query_doc, term, idf_milli FROM (
        SELECT tf.doc_id AS query_doc, tf.term,
               (1000 * tot.n_docs) // d.df AS idf_milli,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ((1000 * tot.n_docs) // d.df) DESC,
                            tf.term ASC) AS qr
        FROM tf JOIN d USING (term) CROSS JOIN tot
        WHERE tf.doc_id IN (0, 7, 42)
      ) WHERE qr <= 3),
s AS (SELECT q.query_doc, tf.doc_id,
             CAST(sum((q.idf_milli * tf.tf * 22000 * tot.total_toks) //
                      (10 * tot.total_toks * tf.tf + 3 * tot.total_toks
                       + 9 * dl.dl * tot.n_docs)) AS BIGINT) AS score_milli
      FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
      WHERE tf.doc_id <> q.query_doc
      GROUP BY q.query_doc, tf.doc_id)
SELECT query_doc, rank, doc_id, score_milli FROM (
    SELECT query_doc, doc_id, score_milli,
           CAST(row_number() OVER (
               PARTITION BY query_doc
               ORDER BY score_milli DESC, doc_id ASC) AS INT) AS rank
    FROM s
) WHERE rank <= 5
"""

SOURCE_QUOTA = f"""
SELECT doc_id, source FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY {_draw_sql('doc_id', 5)}, doc_id)
           AS qr
    FROM documents
) WHERE qr <= 15
"""

#: variance from integer sums (s, s2, c exact in doubles) — identical
#: double expression both engines; see events.py::rate_anomalies
EVENT_ANOMALIES = """
WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_ts,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
s AS (SELECT event_type, hour_ts, n,
             CAST(sum(n) OVER w AS DOUBLE) AS sw,
             CAST(sum(n * n) OVER w AS DOUBLE) AS sw2,
             CAST(count(n) OVER w AS DOUBLE) AS cw
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
z AS (SELECT event_type, hour_ts, n,
             round((n - sw / cw)
                   / sqrt((sw2 - sw * sw / cw) / cw + 1e-9), 6) AS z
      FROM s WHERE cw >= 6)
SELECT event_type, strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour, n, z
FROM z WHERE abs(z) > 2.0
"""

TERM_TOPK = f"""
WITH n AS (SELECT {_NORM_TEXT} AS norm FROM documents),
terms AS (SELECT unnest(string_split(norm, ' ')) AS term FROM n)
SELECT term, CAST(count(*) AS BIGINT) AS n
FROM terms WHERE term <> ''
GROUP BY term ORDER BY n DESC, term LIMIT 20
"""

def _cms_sql(k: int = 20, width: int = 256, depth: int = 4) -> str:
    """Twin of operators/stats.py::cms_audit — the same md5 row hashes,
    depth x width counter table, and min-over-rows estimate for the
    exact top-k terms, with the est>=exact upper-bound contract as an
    asserted column."""
    unions = "\nUNION ALL ".join(
        f"SELECT term, {d} AS row, "
        + hash_bucket_sql("(term || '|" + str(d) + "')", width)
        + " AS bucket FROM t"
        for d in range(depth))
    return f"""
WITH n AS (SELECT {_NORM_TEXT} AS norm FROM documents),
terms AS (SELECT unnest(string_split(norm, ' ')) AS term FROM n),
t AS (SELECT term FROM terms WHERE term <> ''),
pairs AS ({unions}),
counters AS (SELECT row, bucket, count(*) AS cnt FROM pairs
             GROUP BY row, bucket),
top AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_n FROM t
        GROUP BY term ORDER BY exact_n DESC, term LIMIT {k}),
probe AS (SELECT DISTINCT top.term, top.exact_n, p.row, p.bucket
          FROM top JOIN pairs p USING (term))
SELECT term, exact_n, CAST(min(cnt) AS BIGINT) AS est_n,
       (min(cnt) >= exact_n) AS is_upper_bound
FROM probe JOIN counters USING (row, bucket)
GROUP BY term, exact_n
"""


#: width 32 (vs the production default 256) so the sf0.01 vocabulary
#: actually collides — the audit then shows real overcounts WITH the
#: upper-bound contract still holding, not a trivially-exact sketch.
TERM_CMS = _cms_sql(width=32)

#: twin of operators/lm.py::doc_nll — add-one-smoothed bigram LM
#: negative log-likelihood per doc; parallel unnest zips the two
#: shifted slices into per-position bigrams; each term rounds to 6 dp
#: BEFORE the decimal sum (the exp/sigmoid-oracle convention).
DOC_NLL = f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
tk AS (SELECT doc_id,
              list_filter(string_split(norm, ' '), t -> t <> '') AS t
       FROM n),
bg AS (SELECT doc_id,
              unnest(list_slice(t, 1, len(t) - 1)) AS a,
              unnest(list_slice(t, 2, len(t))) AS b
       FROM tk WHERE len(t) >= 2),
big AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b),
uni AS (SELECT a, count(*) AS c_a FROM bg GROUP BY a),
vv AS (SELECT count(DISTINCT tok) AS v FROM
       (SELECT unnest(list_filter(string_split(norm, ' '),
                                  x -> x <> '')) AS tok FROM n)),
j AS (SELECT bg.doc_id, coalesce(big.c_ab, 0) AS c_ab, uni.c_a
      FROM bg LEFT JOIN big USING (a, b) JOIN uni USING (a)),
tt AS (SELECT doc_id,
              round(-ln((c_ab + 1) / CAST(c_a + v AS DOUBLE)), 6) AS t
       FROM j, vv)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CAST(t AS DECIMAL(27,6))) AS DOUBLE) AS nll
FROM tt GROUP BY doc_id
"""

#: Twin of operators/dsir.py::dsir_select — retrains BOTH bigram LMs
#: (target = lang 'en', raw = all docs) independently, then the same
#: 6dp-rounded term difference, DECIMAL per-doc sum, 6dp sigmoid, and
#: md5 content-addressed acceptance draw (seed 11, temperature 4).
DSIR_SELECT = f"""
WITH n AS (SELECT doc_id, lang, {_NORM_TEXT} AS norm FROM documents),
tk AS (SELECT doc_id, lang,
              list_filter(string_split(norm, ' '), t -> t <> '') AS t
       FROM n),
bg AS (SELECT doc_id, lang,
              unnest(list_slice(t, 1, len(t) - 1)) AS a,
              unnest(list_slice(t, 2, len(t))) AS b
       FROM tk WHERE len(t) >= 2),
t_big AS (SELECT a, b, count(*) AS c_ab FROM bg WHERE lang = 'en'
          GROUP BY a, b),
t_uni AS (SELECT a, count(*) AS c_a FROM bg WHERE lang = 'en'
          GROUP BY a),
t_v AS (SELECT count(DISTINCT tok) AS v FROM
        (SELECT unnest(t) AS tok FROM tk WHERE lang = 'en')),
r_big AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b),
r_uni AS (SELECT a, count(*) AS c_a FROM bg GROUP BY a),
r_v AS (SELECT count(DISTINCT tok) AS v FROM
        (SELECT unnest(t) AS tok FROM tk)),
j AS (SELECT bg.doc_id,
             coalesce(tb.c_ab, 0) AS t_ab, coalesce(tu.c_a, 0) AS t_a,
             coalesce(rb.c_ab, 0) AS r_ab, coalesce(ru.c_a, 0) AS r_a
      FROM bg
      LEFT JOIN t_big tb ON tb.a = bg.a AND tb.b = bg.b
      LEFT JOIN t_uni tu ON tu.a = bg.a
      LEFT JOIN r_big rb ON rb.a = bg.a AND rb.b = bg.b
      LEFT JOIN r_uni ru ON ru.a = bg.a),
tt AS (SELECT doc_id,
              round(-ln((r_ab + 1) / CAST(r_a + rv.v AS DOUBLE)), 6)
              - round(-ln((t_ab + 1) / CAST(t_a + tv.v AS DOUBLE)), 6)
              AS t
       FROM j, t_v tv, r_v rv),
w AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CAST(t AS DECIMAL(27,6))) AS DOUBLE) AS logw
      FROM tt GROUP BY doc_id)
SELECT doc_id, n_bigrams, logw,
       round(1.0 / (1.0 + exp(-4.0 * logw / n_bigrams)), 6)
           AS accept_prob,
       {_draw_sql('doc_id', 11)}
           < round(1.0 / (1.0 + exp(-4.0 * logw / n_bigrams)), 6)
           AS selected
FROM w
"""

def _profile_sql(table: str, num_cols: list[str],
                 str_cols: list[str], order: list[str]) -> str:
    """Twin of operators/profile.py::profile_table — one independent
    per-column SELECT, unioned; numeric min/max as DOUBLE, other
    min/max CAST to VARCHAR."""
    parts = []
    for c in order:
        if c in num_cols:
            mm = (f"CAST(min({c}) AS DOUBLE) AS min_num, "
                  f"CAST(max({c}) AS DOUBLE) AS max_num, "
                  f"CAST(NULL AS VARCHAR) AS min_str, "
                  f"CAST(NULL AS VARCHAR) AS max_str")
        else:
            mm = (f"CAST(NULL AS DOUBLE) AS min_num, "
                  f"CAST(NULL AS DOUBLE) AS max_num, "
                  f"CAST(min(CAST({c} AS VARCHAR)) AS VARCHAR) AS min_str, "
                  f"CAST(max(CAST({c} AS VARCHAR)) AS VARCHAR) AS max_str")
        parts.append(
            f"SELECT '{c}' AS \"column\", count(*) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, {mm} FROM {table}")
    return "\nUNION ALL\n".join(parts)


PROFILE_ORDERS = _profile_sql(
    "orders",
    num_cols=["o_orderkey", "o_custkey", "o_totalprice"],
    str_cols=["o_orderstatus", "o_orderdate", "o_orderpriority"],
    order=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderdate", "o_orderpriority"])

#: Twin of queries.py::q_snapshot_diff — the change set derived
#: SEMANTICALLY (key membership + the one perturbed column), fully
#: independent of the Spark side's md5 row-fingerprint shortcut.
SNAPSHOT_DIFF = """
SELECT o_orderkey, 'I' AS op FROM orders
WHERE o_orderkey % 10 = 0 AND o_orderkey % 17 <> 0
UNION ALL
SELECT o_orderkey, 'D' FROM orders
WHERE o_orderkey % 17 = 0 AND o_orderkey % 10 <> 0
UNION ALL
SELECT o_orderkey, 'U' FROM orders
WHERE o_orderkey % 13 = 0 AND o_orderkey % 10 <> 0
  AND o_orderkey % 17 <> 0
"""

#: Twin of q_merge_upsert: diff+apply must reproduce the NEW snapshot
#: exactly, so the oracle IS the new snapshot.
MERGE_UPSERT = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 17 <> 0
"""

#: twin of operators/dedup.py::duplicated_spans — length-40 windows at
#: stride 10 over normalized text; DuckDB range() is end-EXCLUSIVE so
#: the stop is Spark's inclusive sequence stop + 1.
DUP_SPANS = f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
g AS (SELECT doc_id,
             substr(norm, CAST(unnest(range(1,
                 greatest(length(norm) - 39, 1) + 1, 10)) AS INT),
                 40) AS gram
      FROM n)
SELECT md5(gram) AS gram_digest,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc
FROM g WHERE length(gram) = 40
GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
"""

TOKEN_PACK = f"""
WITH {_PACKED_512.format(norm=_NORM_TEXT)}
SELECT doc_id, n_tokens, start_offset, first_chunk, last_chunk,
       CAST(last_chunk - first_chunk + 1 AS BIGINT) AS n_chunks
FROM packed
"""

CHUNK_FILL = f"""
WITH {_PACKED_512.format(norm=_NORM_TEXT)},
spans AS (SELECT n_tokens, start_offset,
                 unnest(range(first_chunk, last_chunk + 1)) AS chunk
          FROM packed)
SELECT chunk, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(greatest(
            least(start_offset + n_tokens, (chunk + 1) * 512)
            - greatest(start_offset, chunk * 512), 0)) AS BIGINT) AS n_tokens
FROM spans
GROUP BY chunk
"""

_HEX = "0123456789abcdef"


def _simhash_expr() -> str:
    bits = []
    for j in range(64):
        digit = (f"(strpos('{_HEX}', substr(dg, {j // 4 + 1}, 1)) - 1)")
        bit = f"((({digit} >> {3 - j % 4}) % 2) * 2 - 1)"
        vote = f"list_sum(list_transform(digests, dg -> {bit}))"
        bits.append(f"CASE WHEN {vote} > 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def _simhash_sql() -> str:
    expr = _simhash_expr()
    return f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
     d AS (SELECT doc_id, list_transform(string_split(norm, ' '), t -> md5(t)) AS digests FROM n)
SELECT doc_id, {expr} AS simhash FROM d
"""


SIMHASH = _simhash_sql()


def _simhash_near_dup_sql(radius: int = 3, bands: int = 4) -> str:
    """Twin of operators/dedup.py::simhash_near_dup (max_bucket=None):
    the same signature construction (``_simhash_expr``), EXHAUSTIVE
    banded candidates on (band, 64/bands-bit key), then the identical
    64-term integer Hamming count filtered to <= radius. Exact by
    pigeonhole at radius <= bands-1, so both engines must return the
    same pair set bit-for-bit."""
    width = 64 // bands
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band, "
        f"substr(simhash, {i * width + 1}, {width}) AS key FROM sh"
        for i in range(bands))
    ham = " + ".join(
        f"CASE WHEN substr(l_sig, {i}, 1) <> substr(r_sig, {i}, 1) "
        "THEN 1 ELSE 0 END"
        for i in range(1, 65))
    return f"""
WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents),
     d AS (SELECT doc_id, list_transform(string_split(norm, ' '), t -> md5(t)) AS digests FROM n),
     sh AS (SELECT doc_id, {_simhash_expr()} AS simhash FROM d),
     bk AS ({band_rows}),
     cand AS (SELECT DISTINCT a.doc_id AS l_id, a.simhash AS l_sig,
                     b.doc_id AS r_id, b.simhash AS r_sig
              FROM bk a JOIN bk b
                ON a.band = b.band AND a.key = b.key
                   AND a.doc_id < b.doc_id)
SELECT l_id, r_id, CAST(h AS INT) AS hamming
FROM (SELECT l_id, r_id, ({ham}) AS h FROM cand)
WHERE h <= {radius}
"""


SIMHASH_NEAR_DUP = _simhash_near_dup_sql()

def _grams5(src: str) -> str:
    return f"""
SELECT doc_id AS _id,
       unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 4, 1) + 1),
           i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2],
                          toks[i + 3], toks[i + 4])))) AS gram
FROM (SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS toks
      FROM documents WHERE {src})
"""


FRAME_SAMPLE = """
WITH p AS (
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 15
                WHEN 2 THEN 24 ELSE 30 END AS fps,
           4 + doc_id % 13 AS nf
    FROM documents WHERE doc_id % 17 != 0
), j AS (SELECT doc_id, fps, nf, unnest(range(0, 4)) AS ji FROM p),
fsel AS (SELECT doc_id, fps, ji, (ji * nf) // 4 AS f FROM j)
SELECT doc_id, CAST(ji AS INTEGER) AS frame_index,
       CAST(f AS INTEGER) AS src_frame,
       CAST(f * (1000000 // fps) // 1000 AS BIGINT) AS frame_ts_ms,
       CAST(16 + 2 * ((doc_id + 3 * f) % 16) AS INTEGER) AS frame_len,
       CAST(list_sum(list_transform(
                range(0, 16 + 2 * ((doc_id + 3 * f) % 16)),
                i -> (doc_id * 31 + f * 17 + i * 7) % 256))
            AS BIGINT) AS frame_sum
FROM fsel
"""

VIDEO_META = """
WITH p AS (
    SELECT doc_id,
           32 + (doc_id % 64) * 4 AS w,
           24 + ((doc_id * 5) % 64) * 4 AS h,
           CASE doc_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 15
                WHEN 2 THEN 24 ELSE 30 END AS fps,
           4 + doc_id % 13 AS nf
    FROM documents
), fr AS (
    SELECT doc_id, w, h, fps, nf, unnest(range(0, nf)) AS f
    FROM p WHERE doc_id % 17 != 0
), agg AS (
    SELECT doc_id, w, h, fps, nf,
           SUM(16 + 2 * ((doc_id + 3 * f) % 16)) AS frame_bytes
    FROM fr GROUP BY 1, 2, 3, 4, 5
)
SELECT doc_id, CAST(224 + 8 * nf + frame_bytes AS INTEGER) AS byte_len,
       'avi' AS format, CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height, CAST(fps AS INTEGER) AS fps,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(nf * (1000000 // fps) // 1000 AS BIGINT) AS duration_ms,
       CAST(frame_bytes AS BIGINT) AS frame_bytes,
       CAST(NULL AS VARCHAR) AS error
FROM agg
UNION ALL
SELECT doc_id, 5, NULL, 0, 0, 0, 0, 0, 0, 'unknown_format'
FROM p WHERE doc_id % 17 = 0
"""

DECONTAMINATE = f"""
WITH bench AS (SELECT DISTINCT gram FROM ({_grams5('doc_id < 10')})),
train AS ({_grams5('doc_id >= 10')})
SELECT t._id AS doc_id, CAST(count(*) AS BIGINT) AS n_overlapping_grams
FROM train t JOIN bench USING (gram)
GROUP BY t._id
"""

NGRAM_JACCARD = f"""
WITH n AS (SELECT doc_id, string_split({_NORM_TEXT}, ' ') AS toks FROM documents),
     g AS (SELECT doc_id,
                  list_distinct(list_transform(
                      range(1, greatest(len(toks) - 2, 1) + 1),
                      i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))
                  AS gset
           FROM n),
     j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  len(list_intersect(a.gset, b.gset)) AS inter,
                  len(a.gset) AS la, len(b.gset) AS lb
           FROM g a JOIN g b ON a.doc_id + 1 = b.doc_id)
SELECT id_a, id_b, round(inter / (la + lb - inter), 6) AS ngram_jaccard FROM j
"""

_COS = ("round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * "
        "sqrt(list_dot_product(qv, qv))), 6)")

ANN_BRUTE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, {_COS} AS score
FROM e, q WHERE vec_id <> 0
ORDER BY score DESC, vec_id LIMIT 10
"""


def _bucket(v: str, n_bits: int = 8) -> str:
    return " + ".join(
        f"(CASE WHEN {v}[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)"
        for d in range(n_bits))


ANN_LSH = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  {_bucket('CAST(embedding AS DOUBLE[])')} AS bucket
           FROM embeddings),
     q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = 0)
SELECT e.vec_id, {_COS} AS score
FROM e, q WHERE e.bucket = q.qbucket AND e.vec_id <> 0
ORDER BY score DESC, vec_id LIMIT 10
"""

ANN_FILTERED = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
     q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, {_COS} AS score
FROM e, q WHERE vec_id <> 0 AND label = 3
ORDER BY score DESC, vec_id LIMIT 10
"""

ANN_BATCH = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     q AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id IN (0, 1, 2)),
     s AS (SELECT q.query_id, e.vec_id, {_COS} AS score
           FROM e, q WHERE e.vec_id <> q.query_id),
     r AS (SELECT query_id, vec_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS rnk
           FROM s)
SELECT query_id, vec_id, score, CAST(rnk AS INTEGER) AS rnk
FROM r WHERE rnk <= 5
"""

# One-slot union of the three ANN variant twins (driver-window
# capacity consolidation, VERDICT r6 item 3): tags keep each variant's
# rows distinct so a wrong answer in any branch still hash-mismatches.
ANN_VARIANTS = f"""
SELECT 'lsh' AS variant, CAST(0 AS BIGINT) AS query_id, vec_id, score,
       CAST(NULL AS INTEGER) AS rnk
FROM ({ANN_LSH})
UNION ALL
SELECT 'filtered', CAST(0 AS BIGINT), vec_id, score,
       CAST(NULL AS INTEGER)
FROM ({ANN_FILTERED})
UNION ALL
SELECT 'batch', query_id, vec_id, score, rnk
FROM ({ANN_BATCH})
"""

#: Twin of operators/similarity.py::knn_classify — same neighbor sets
#: as ANN_BATCH (id-ordered enumeration vs broadcast window: identical
#: ranks), then label join + (votes desc, label asc) argmax.
KNN_CLASSIFY = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
     q AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)),
     s AS (SELECT q.query_id, e.vec_id, e.label, {_COS} AS score
           FROM e, q WHERE e.vec_id <> q.query_id),
     r AS (SELECT query_id, vec_id, label, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS rnk
           FROM s),
     votes AS (SELECT query_id, label, count(*) AS votes
               FROM r WHERE rnk <= 10 GROUP BY query_id, label),
     best AS (SELECT query_id, label AS pred_label, votes,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY votes DESC, label ASC)
                         AS vr
              FROM votes)
SELECT b.query_id, e.label AS true_label, b.pred_label,
       CAST(b.votes AS BIGINT) AS votes
FROM best b JOIN e ON e.vec_id = b.query_id
WHERE b.vr = 1
"""


def _kmeans_parts(k: int, iters: int,
                  src: str = "e") -> tuple[list[str], str]:
    """Shared unrolled deterministic k-means (twin of
    operators/ivf.py::build_ivf_index): init = k lowest-id vectors
    (ivf.py:45), each Lloyd iteration = argmin assignment (ties to the
    lower cluster id, ivf.py:35) + per-cluster per-dimension mean (empty
    clusters keep the previous centroid, ivf.py:59-62), then one final
    assignment CTE ``af``. list_distance is monotone in the squared
    distance Spark folds, so every argmin agrees. Returns (CTE parts,
    name of the final centroid CTE).

    ``src`` names the training-corpus CTE (aliased ``e`` inside every
    iteration); with the default ``e`` the generated text is unchanged
    and the caller gets the full-embeddings corpus CTE prepended. A
    non-default src (round 12, the ivf_append twin) trains on the
    caller's slice — the caller supplies both ``e`` and ``src``."""
    fe = "e" if src == "e" else f"{src} e"
    parts = []
    if src == "e":
        parts.append(
            "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
            " FROM embeddings)")
    parts.append(
        "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)"
        " AS cluster, v AS cv"
        f" FROM (SELECT * FROM {src} ORDER BY vec_id LIMIT {k}))")
    prev = "c0"
    for i in range(iters):
        parts.append(
            f"a{i} AS (SELECT vec_id, cluster FROM ("
            "SELECT e.vec_id, c.cluster, row_number() OVER ("
            "PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cv), "
            f"c.cluster) AS rn FROM {fe} CROSS JOIN {prev} c) WHERE rn = 1)")
        parts.append(
            f"m{i} AS (SELECT cluster, pos, avg(x) AS m FROM ("
            "SELECT a.cluster, generate_subscripts(e.v, 1) AS pos, "
            f"unnest(e.v) AS x FROM {fe} JOIN a{i} a USING (vec_id)) "
            "GROUP BY cluster, pos)")
        parts.append(
            f"cm{i} AS (SELECT cluster, list(m ORDER BY pos) AS cv "
            f"FROM m{i} GROUP BY cluster)")
        parts.append(
            f"c{i + 1} AS (SELECT p.cluster, coalesce(n.cv, p.cv) AS cv "
            f"FROM {prev} p LEFT JOIN cm{i} n USING (cluster))")
        prev = f"c{i + 1}"
    parts.append(
        "af AS (SELECT vec_id, cluster FROM ("
        "SELECT e.vec_id, c.cluster, row_number() OVER ("
        "PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cv), "
        f"c.cluster) AS rn FROM {fe} CROSS JOIN {prev} c) WHERE rn = 1)")
    return parts, prev


def _ivf_sql(k: int = 8, iters: int = 3, nprobe: int = 4,
             topk: int = 10) -> str:
    """Twin of operators/ivf.py::ivf_topk — unrolled k-means
    (``_kmeans_parts``) + an nprobe-nearest-centroid probe + cosine
    top-k over the probed clusters only."""
    parts, prev = _kmeans_parts(k, iters)
    parts.append("q AS (SELECT v AS qv FROM e WHERE vec_id = 0)")
    parts.append(
        f"probe AS (SELECT c.cluster FROM {prev} c, q "
        f"ORDER BY list_distance(q.qv, c.cv), c.cluster LIMIT {nprobe})")
    return "WITH " + ",\n".join(parts) + f"""
SELECT e.vec_id, round(list_dot_product(e.v, q.qv)
       / (sqrt(list_dot_product(e.v, e.v))
          * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM af JOIN e USING (vec_id), q
WHERE af.cluster IN (SELECT cluster FROM probe) AND e.vec_id <> 0
ORDER BY score DESC, e.vec_id LIMIT {topk}
"""


ANN_IVF = _ivf_sql()


def _ivf_append_sql(k: int = 8, iters: int = 3, nprobe: int = 4,
                    topk: int = 10) -> str:
    """Twin of the `ivf_append` branch of
    queries.py::q_ann_index_variants (round 12 — assign-only index
    maintenance, operators/ivf.py::ivf_append): k-means RETRAINED on
    the base slice (vec_id <= (max*4)//5), the appended slice placed
    against the FROZEN final centroids by the same argmin/tie rule,
    then the nprobe probe + cosine top-k over the unioned
    assignment."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "cutv AS (SELECT (max(vec_id) * 4) // 5 AS cut FROM e)",
        "eb AS (SELECT e.* FROM e, cutv WHERE e.vec_id <= cut)",
    ]
    kparts, prev = _kmeans_parts(k, iters, src="eb")
    parts += kparts
    parts.append(
        "an AS (SELECT vec_id, cluster FROM ("
        "SELECT e.vec_id, c.cluster, row_number() OVER ("
        "PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cv), "
        f"c.cluster) AS rn FROM e CROSS JOIN {prev} c, cutv "
        "WHERE e.vec_id > cut) WHERE rn = 1)")
    parts.append("au AS (SELECT * FROM af UNION ALL SELECT * FROM an)")
    parts.append("q AS (SELECT v AS qv FROM e WHERE vec_id = 0)")
    parts.append(
        f"probe AS (SELECT c.cluster FROM {prev} c, q "
        f"ORDER BY list_distance(q.qv, c.cv), c.cluster LIMIT {nprobe})")
    return "WITH " + ",\n".join(parts) + f"""
SELECT e.vec_id, round(list_dot_product(e.v, q.qv)
       / (sqrt(list_dot_product(e.v, e.v))
          * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM au JOIN e USING (vec_id), q
WHERE au.cluster IN (SELECT cluster FROM probe) AND e.vec_id <> 0
ORDER BY score DESC, e.vec_id LIMIT {topk}
"""


ANN_IVF_APPEND = _ivf_append_sql()


def _semantic_dedup_sql(k: int = 8, iters: int = 3,
                        threshold: float = 0.2) -> str:
    """Twin of operators/semantic.py::semantic_dedup (max_cluster=None):
    the same unrolled k-means, then within-cluster pairs (equi-join on
    cluster id, lower id on the left) with round(cosine, 6) >= threshold
    marking the HIGHER id as dropped. Cosine is rounded before the
    compare in both engines so the decision boundary is bit-identical."""
    parts, _ = _kmeans_parts(k, iters)
    cos = ("round(list_dot_product(a.v, b.v) / "
           "(sqrt(list_dot_product(a.v, a.v)) * "
           "sqrt(list_dot_product(b.v, b.v))), 6)")
    parts.append(
        "av AS (SELECT af.vec_id, af.cluster, e.v FROM af "
        "JOIN e USING (vec_id))")
    parts.append(
        "dropped AS (SELECT DISTINCT b.vec_id FROM av a "
        "JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
        f"WHERE {cos} >= {threshold})")
    return "WITH " + ",\n".join(parts) + """
SELECT av.vec_id, av.cluster,
       (av.vec_id NOT IN (SELECT vec_id FROM dropped)) AS kept
FROM av
"""


SEMANTIC_DEDUP = _semantic_dedup_sql()


def _quality_lr_p() -> str:
    """The rounded sigmoid scoring expression of
    ml/quality.py::score_quality with the PINNED trained weights —
    expects columns ``text``, ``norm``, ``toks`` in scope. Same
    centered features, left-associated weighted sum, [-30,30] clamp,
    sigmoid, round 6."""
    from rel_db_to_graph_spark.ml.quality import PINNED_BIAS, PINNED_WEIGHTS
    w, b = PINNED_WEIGHTS, PINNED_BIAS
    f0 = "(length(replace(norm, ' ', '')) / len(toks) - 4.5)"
    f1 = ("(5.0 * (len(list_filter(toks, t -> list_contains("
          f"{_STOPLIST}, t))) / len(toks)))")
    f2 = ("(5.0 * (length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))"
          " / length(text)))")
    f3 = "(len(toks) / 100.0 - 0.5)"
    z = (f"{b} + {w[0]} * {f0} + {w[1]} * {f1} + {w[2]} * {f2}"
         f" + {w[3]} * {f3}")
    z = f"greatest(least({z}, 30.0), -30.0)"
    return f"round({SIGMOID.format(z=z)}, 6)"


def _quality_lr_sql() -> str:
    """Twin of ml/quality.py::score_quality (see _quality_lr_p)."""
    return f"""
WITH n AS (SELECT doc_id, text, {_NORM_TEXT} AS norm FROM documents),
     t AS (SELECT doc_id, text, string_split(norm, ' ') AS toks, norm
           FROM n)
SELECT doc_id, {_quality_lr_p()} AS quality_p FROM t
"""


def _pq_parts(m: int, k: int, iters: int, dim: int,
              train_base: str | None = None) -> tuple[list[str], str, str]:
    """Per-subspace Lloyd k-means + ADC term CTEs (twin of
    operators/pq.py::train_pq/encode_pq/adc_estimate): init = k
    lowest-id subvectors, argmin ties to the lower code, means ROUNDED
    TO 6 DP exactly like train_pq so the codebooks are bit-identical;
    per subspace the ADC term is the squared distance between the
    query's subvector and the row's assigned centroid, written as
    explicit left-associated additions in index order (matching both
    Spark's fold and Python's sum). Assumes CTEs ``e`` (vectors) and
    ``q`` (query vector) are in scope. Returns (parts, total-distance
    expression, join chain over the per-subspace term CTEs).

    ``train_base`` (round 12, the ivfpq_append twin) names a CTE of
    base-slice rows: codebook init and Lloyd iterations then train on
    only those subvectors while the final assignment ``s{s}af`` still
    encodes EVERY row — exactly the frozen-codebook encode of the
    appended slice. Default None keeps the generated text
    byte-identical to the pre-round-12 twin."""
    dsub = dim // m
    parts: list[str] = []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            f"sub{s} AS (SELECT vec_id, list_slice(v, {lo}, {hi}) AS v "
            "FROM e)")
        tr = f"sub{s}"
        if train_base is not None:
            tr = f"sub{s}b"
            parts.append(
                f"sub{s}b AS (SELECT * FROM sub{s} WHERE vec_id IN "
                f"(SELECT vec_id FROM {train_base}))")
        parts.append(
            f"b{s}_0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)"
            " - 1 AS INT) AS code, v AS cv"
            f" FROM (SELECT * FROM {tr} ORDER BY vec_id LIMIT {k}))")
        prev = f"b{s}_0"
        for i in range(iters):
            parts.append(
                f"s{s}a{i} AS (SELECT vec_id, code FROM ("
                f"SELECT t.vec_id, b.code, row_number() OVER ("
                "PARTITION BY t.vec_id ORDER BY list_distance(t.v, b.cv), "
                f"b.code) AS rn FROM {tr} t CROSS JOIN {prev} b) "
                "WHERE rn = 1)")
            parts.append(
                f"s{s}m{i} AS (SELECT code, pos, round(avg(x), 6) AS mu "
                "FROM (SELECT a.code, generate_subscripts(t.v, 1) AS pos, "
                f"unnest(t.v) AS x FROM {tr} t JOIN s{s}a{i} a "
                "USING (vec_id)) GROUP BY code, pos)")
            parts.append(
                f"s{s}cm{i} AS (SELECT code, list(mu ORDER BY pos) AS cv "
                f"FROM s{s}m{i} GROUP BY code)")
            parts.append(
                f"b{s}_{i + 1} AS (SELECT p.code, coalesce(n.cv, p.cv) AS cv "
                f"FROM {prev} p LEFT JOIN s{s}cm{i} n USING (code))")
            prev = f"b{s}_{i + 1}"
        parts.append(
            f"s{s}af AS (SELECT vec_id, code FROM ("
            f"SELECT t.vec_id, b.code, row_number() OVER ("
            "PARTITION BY t.vec_id ORDER BY list_distance(t.v, b.cv), "
            f"b.code) AS rn FROM sub{s} t CROSS JOIN {prev} b) "
            "WHERE rn = 1)")
        # squared ADC term: explicit left-assoc additions in index order
        sq = " + ".join(
            f"(q.qv[{lo + i}] - b.cv[{i + 1}]) * "
            f"(q.qv[{lo + i}] - b.cv[{i + 1}])"
            for i in range(dsub))
        parts.append(
            f"t{s} AS (SELECT a.vec_id, ({sq}) AS t "
            f"FROM s{s}af a JOIN {prev} b USING (code), q)")
    total = " + ".join(f"t{s}.t" for s in range(m))
    joins = "t0" + "".join(f" JOIN t{s} USING (vec_id)" for s in range(1, m))
    return parts, total, joins


def _pq_sql(m: int = 4, k: int = 8, iters: int = 2, dim: int = 64,
            topk: int = 10) -> str:
    """Twin of operators/pq.py::pq_topk — ``_pq_parts`` + ADC top-k,
    rounded to 6 dp."""
    sub, total, joins = _pq_parts(m, k, iters, dim)
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        *sub,
    ]
    parts.insert(1, "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)")
    return "WITH " + ",\n".join(parts) + f"""
SELECT vec_id, round(0.0 + {total}, 6) AS adist
FROM {joins}
WHERE vec_id <> 0
ORDER BY adist, vec_id LIMIT {topk}
"""


ANN_PQ = _pq_sql()


def _ivfpq_sql(n_clusters: int = 8, nprobe: int = 4, m: int = 4,
               k: int = 8, iters: int = 2, dim: int = 64,
               topk: int = 10) -> str:
    """Twin of operators/pq.py::ivfpq_topk — the coarse k-means
    (``_kmeans_parts``) picks the nprobe probed clusters, the PQ twin
    (``_pq_parts``) supplies codebooks + ADC terms, and the final top-k
    scans only rows whose coarse cluster is probed."""
    coarse, cprev = _kmeans_parts(n_clusters, iters)
    sub, total, joins = _pq_parts(m, k, iters, dim)
    parts = [
        *coarse,                     # includes the shared ``e`` CTE
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)",
        (f"probe AS (SELECT c.cluster FROM {cprev} c, q "
         f"ORDER BY list_distance(q.qv, c.cv), c.cluster LIMIT {nprobe})"),
        *sub,
    ]
    return "WITH " + ",\n".join(parts) + f"""
SELECT vec_id, round(0.0 + {total}, 6) AS adist
FROM {joins} JOIN af USING (vec_id)
WHERE vec_id <> 0 AND af.cluster IN (SELECT cluster FROM probe)
ORDER BY adist, vec_id LIMIT {topk}
"""


ANN_IVFPQ = _ivfpq_sql()


def _ivfpq_append_sql(n_clusters: int = 8, nprobe: int = 4, m: int = 4,
                      k: int = 8, iters: int = 2, dim: int = 64,
                      topk: int = 10) -> str:
    """Twin of the `ivfpq_append` branch of
    queries.py::q_ann_index_variants (round 12 — assign-only
    maintenance for the compressed index family,
    operators/pq.py::ivfpq_append): coarse k-means AND per-subspace
    codebooks RETRAINED on the base slice (vec_id <= (max*4)//5), the
    appended slice coarse-placed against the FROZEN final centroids
    (same argmin/tie rule) and encoded by the FROZEN final codebooks
    (``_pq_parts(train_base=...)`` — training CTEs see only the base
    subvectors, the final assignment encodes every row), then the ADC
    probe + top-k over the unioned assignment."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "cutv AS (SELECT (max(vec_id) * 4) // 5 AS cut FROM e)",
        "eb AS (SELECT e.* FROM e, cutv WHERE e.vec_id <= cut)",
    ]
    kparts, prev = _kmeans_parts(n_clusters, iters, src="eb")
    parts += kparts
    parts.append(
        "an AS (SELECT vec_id, cluster FROM ("
        "SELECT e.vec_id, c.cluster, row_number() OVER ("
        "PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cv), "
        f"c.cluster) AS rn FROM e CROSS JOIN {prev} c, cutv "
        "WHERE e.vec_id > cut) WHERE rn = 1)")
    parts.append("au AS (SELECT * FROM af UNION ALL SELECT * FROM an)")
    parts.append("q AS (SELECT v AS qv FROM e WHERE vec_id = 0)")
    parts.append(
        f"probe AS (SELECT c.cluster FROM {prev} c, q "
        f"ORDER BY list_distance(q.qv, c.cv), c.cluster LIMIT {nprobe})")
    sub, total, joins = _pq_parts(m, k, iters, dim, train_base="eb")
    parts += sub
    return "WITH " + ",\n".join(parts) + f"""
SELECT vec_id, round(0.0 + {total}, 6) AS adist
FROM {joins} JOIN au USING (vec_id)
WHERE vec_id <> 0 AND au.cluster IN (SELECT cluster FROM probe)
ORDER BY adist, vec_id LIMIT {topk}
"""


ANN_IVFPQ_APPEND = _ivfpq_append_sql()

#: Twin of queries.py::q_ann_index_variants (round 9 — the former
#: ann_ivf / ann_pq / ann_ivfpq slots consolidated): the three indexed
#: ANN twins unioned under a variant tag; each branch keeps its own
#: fully retrained k-means/codebook derivation (DuckDB allows WITH
#: inside a parenthesized derived table, so the branch CTE namespaces
#: stay isolated).
ANN_INDEX_VARIANTS = f"""
SELECT 'ivf' AS variant, vec_id, score FROM ({ANN_IVF}) ivf_t
UNION ALL
SELECT 'pq' AS variant, vec_id, adist AS score FROM ({ANN_PQ}) pq_t
UNION ALL
SELECT 'ivfpq' AS variant, vec_id, adist AS score FROM ({ANN_IVFPQ}) ivfpq_t
UNION ALL
SELECT 'ivf_append' AS variant, vec_id, score
FROM ({ANN_IVF_APPEND}) ivfa_t
UNION ALL
SELECT 'ivf_append_stream' AS variant, vec_id, score
FROM ({ANN_IVF_APPEND}) ivfas_t
UNION ALL
SELECT 'ivfpq_append' AS variant, vec_id, adist AS score
FROM ({ANN_IVFPQ_APPEND}) ivfpqa_t
"""

QUALITY_LR_SCORE = _quality_lr_sql()


def _quality_lr_train_sql(iters: int = 6, ridge: float = 1e-4) -> str:
    """Twin of ml/quality.py::train_quality_irls — DuckDB RETRAINS the
    logistic regression (upgrades quality_lr_train from rows-only): the
    full IRLS/Newton loop is unrolled into CTE chains, one round =
    (a) the 15 weighted Gram sums + 5 gradient sums + accuracy count
    over the feature frame under the current beta, (b) ridge-regularized
    normal equations solved by unrolled Gaussian elimination on the 5x5
    system (no pivoting — the matrix is SPD by construction), (c) the
    Newton update. The per-iteration accuracy history is the output.

    Cross-engine exactness: the feature expressions are the proven
    quality_lr_score twins; the accuracy is INTEGER-derived
    (count(p > 0.5 == label) / n), so the only float sensitivity is a
    document's z crossing 0 within ~1e-12 of the engines' sum-order /
    solver (LAPACK vs elimination) divergence — away from that measure-
    zero boundary the history is bit-identical, and the test data is
    fixed."""
    d = 5
    feats = (
        "feats AS MATERIALIZED (SELECT "
        "(length(replace(norm, ' ', '')) / len(toks) - 4.5) AS a1, "
        "(5.0 * (len(list_filter(toks, t -> list_contains("
        f"{_STOPLIST}, t))) / len(toks))) AS a2, "
        "(5.0 * (length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))"
        " / length(text))) AS a3, "
        "(len(toks) / 100.0 - 0.5) AS a4, 1.0 AS a5, "
        "CAST((" + SIGMOID.format(
            z="0.4 * (length(replace(norm, ' ', '')) / len(toks)) "
              "+ 2.0 * (len(list_filter(toks, t -> list_contains("
              f"{_STOPLIST}, t))) / len(toks)) "
              "- 5.0 * (length(regexp_replace(text, '[a-zA-Z0-9 ]', '', "
              "'g')) / length(text)) - 2.0")
        + ") > 0.5 AS INT) AS label FROM t0)")
    parts = [
        f"n0 AS (SELECT doc_id, text, {_NORM_TEXT} AS norm FROM documents)",
        "t0 AS (SELECT doc_id, text, norm, string_split(norm, ' ')"
        " AS toks FROM n0)",
        feats,
        "nn AS (SELECT count(*) AS n FROM feats)",
        "beta0 AS MATERIALIZED (SELECT " + ", ".join(
            f"0.0 AS b{i}" for i in range(1, d + 1)) + ")",
    ]
    for t in range(iters):
        z = "greatest(least(0.0 + " + " + ".join(
            f"b.b{i} * a{i}" for i in range(1, d)) + " + b.b5, 30.0), -30.0)"
        inner = (f"SELECT f.*, {SIGMOID.format(z=z)} AS p "
                 f"FROM feats f, beta{t} b")
        sums = [f"sum(p * (1 - p) * a{i} * a{j}) AS h{i}{j}"
                for i in range(1, d + 1) for j in range(i, d + 1)]
        sums += [f"sum((CAST(label AS DOUBLE) - p) * a{i}) AS g{i}"
                 for i in range(1, d + 1)]
        sums.append("sum(CAST(CAST(p > 0.5 AS INT) = label AS BIGINT))"
                    " AS correct")
        parts.append(f"st{t} AS MATERIALIZED (SELECT " + ", ".join(sums)
                     + f" FROM ({inner}))")
        # normal equations: H = Gram/n + ridge*I, g = grad/n - ridge*beta
        m_cols = [f"(h{i}{j} / n)" + (f" + {ridge!r}" if i == j else "")
                  + f" AS a{i}{j}"
                  for i in range(1, d + 1) for j in range(i, d + 1)]
        m_cols += [f"(g{i} / n) - {ridge!r} * b.b{i} AS g{i}"
                   for i in range(1, d + 1)]
        parts.append(f"m{t}0 AS MATERIALIZED (SELECT " + ", ".join(m_cols)
                     + f" FROM st{t}, nn, beta{t} b)")
        prev = f"m{t}0"
        for k in range(1, d):                # eliminate column k
            cols = [f"a{i}{j} - (a{k}{i} / a{k}{k}) * a{k}{j} AS a{i}{j}"
                    for i in range(k + 1, d + 1)
                    for j in range(i, d + 1)]
            cols += [f"g{i} - (a{k}{i} / a{k}{k}) * g{k} AS g{i}"
                     for i in range(k + 1, d + 1)]
            parts.append(f"el{t}{k} AS MATERIALIZED (SELECT " + ", ".join(cols)
                         + f" FROM {prev})")
            prev = f"el{t}{k}"
        # back substitution: x_d from the last pivot, upward
        tri = {1: f"m{t}0", 2: f"el{t}1", 3: f"el{t}2",
               4: f"el{t}3", 5: f"el{t}4"}
        for i in range(d, 0, -1):
            terms = "".join(f" - e.a{i}{j} * x.x{j}"
                            for j in range(i + 1, d + 1))
            src = f"FROM {tri[i]} e"
            if i < d:
                src += f", x{t}{i + 1} x"
            carry = ", ".join(f"x.x{j}" for j in range(i + 1, d + 1))
            sel = f"(e.g{i}{terms}) / e.a{i}{i} AS x{i}"
            if carry:
                sel += ", " + carry
            parts.append(f"x{t}{i} AS MATERIALIZED (SELECT {sel} {src})")
        parts.append(
            f"beta{t + 1} AS MATERIALIZED (SELECT " + ", ".join(
                f"b.b{i} + x.x{i} AS b{i}" for i in range(1, d + 1))
            + f" FROM beta{t} b, x{t}1 x)")
    finals = [f"SELECT CAST({t} AS INTEGER) AS iter, "
              f"CAST(correct AS DOUBLE) / n AS acc FROM st{t}, nn"
              for t in range(iters)]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


QUALITY_LR_TRAIN = _quality_lr_train_sql()


def _bpe_parts(n_merges: int, batch: int, rounds: int,
               pretokenize: bool) -> tuple[list[str], str, list[tuple]]:
    """Shared CTE chain for the BPE twins — DuckDB RETRAINS the
    tokenizer (twin of operators/bpe.py::bpe_train_batched): per
    unrolled round, (a) adjacent-pair counts over the (distinct word,
    freq) table, (b) the driver's greedy batch-accept policy as a chain
    of scalar CTEs — the j-th accept is the lowest-ranked candidate in
    the top 16*batch (count desc, then lexicographic) whose symbols are
    disjoint from accepts 1..j-1, gated by want = min(batch, n_merges -
    already-accepted), (c) the vocabulary rewrite as nested replace()
    calls in acceptance order.

    Sequences are wrapped strings — every symbol as '|sym|', so the
    pair (l, r) is the substring '|l||r|' and DuckDB's left-to-right
    non-overlapping replace() reproduces the Spark fold's greedy merge
    EXACTLY (symbols are [a-z0-9 ]*, so '|' can never collide; the
    [a,a,a] -> [aa,a] overlap case is covered because the wrapped
    pattern consumes both full symbols). Rounds past exhaustion no-op:
    empty accept CTEs coalesce to a chr(1) pattern that never matches.
    Returns (parts, final-words-CTE name, accept (round, j, cte) list).
    """
    if pretokenize:
        wc = ("wc AS (SELECT word, count(*) AS n FROM ("
              f"SELECT unnest(string_split({_NORM_TEXT}, ' ')) AS word "
              "FROM documents) WHERE word != '' GROUP BY word)")
    else:
        wc = (f"wc AS (SELECT word, count(*) AS n FROM ("
              f"SELECT {_NORM_TEXT} AS word FROM documents) "
              "WHERE word != '' GROUP BY word)")
    parts = [
        wc,
        "w1 AS MATERIALIZED (SELECT word, n, "
        "regexp_replace(word, '(.)', '|\\1|', 'g') AS seq FROM wc)",
    ]
    accepts: list[tuple[int, int, str]] = []
    for r in range(1, rounds + 1):
        parts.append(
            f"rk{r} AS MATERIALIZED (SELECT a, b, cnt, row_number() "
            "OVER (ORDER BY cnt DESC, a, b) AS rn FROM ("
            "SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(n) AS BIGINT)"
            " AS cnt FROM (SELECT n, string_split(trim(seq, '|'), '||')"
            f" AS s FROM w{r}), unnest(range(1, len(s))) AS t(i) "
            "GROUP BY 1, 2))")
        # running accepted-count: a per-round CTE (a flat sum over ALL
        # previous accepts blows DuckDB's binder recursion at ~128 terms)
        if r == 1:
            parts.append("cm1 AS MATERIALIZED (SELECT 0 AS cm)")
        else:
            inc = " + ".join(f"(SELECT count(*) FROM ac{r - 1}_{j})"
                             for j in range(1, batch + 1))
            parts.append(f"cm{r} AS MATERIALIZED (SELECT "
                         f"(SELECT cm FROM cm{r - 1}) + ({inc}) AS cm)")
        parts.append(f"wt{r} AS MATERIALIZED (SELECT "
                     f"least({batch}, {n_merges} - "
                     f"(SELECT cm FROM cm{r})) AS want)")
        round_acc: list[str] = []
        for j in range(1, batch + 1):
            used = " UNION ALL ".join(
                f"SELECT a AS s FROM {c} UNION ALL SELECT b AS s FROM {c}"
                for c in round_acc)
            cond = ""
            if used:
                cond = (f" AND a NOT IN (SELECT s FROM ({used}))"
                        f" AND b NOT IN (SELECT s FROM ({used}))")
            name = f"ac{r}_{j}"
            parts.append(
                f"{name} AS MATERIALIZED (SELECT a, b, cnt FROM rk{r} "
                f"WHERE rn <= {16 * batch} AND cnt > 0 "
                f"AND {j} <= (SELECT want FROM wt{r}){cond} "
                "ORDER BY rn LIMIT 1)")
            accepts.append((r, j, name))
            round_acc.append(name)
        expr = "seq"
        for c in round_acc:
            pat = (f"coalesce((SELECT '|' || a || '||' || b || '|' "
                   f"FROM {c}), chr(1))")
            rep = f"coalesce((SELECT '|' || a || b || '|' FROM {c}), chr(1))"
            expr = f"replace({expr}, {pat}, {rep})"
        parts.append(f"w{r + 1} AS MATERIALIZED "
                     f"(SELECT word, n, {expr} AS seq FROM w{r})")
    return parts, f"w{rounds + 1}", accepts


def _bpe_exhausted_cond(n_merges: int, batch: int, rounds: int) -> str:
    """TRUE iff the Spark trainer would run a round the oracle did not
    unroll: the merge budget is unfilled AND mergeable pairs remain in
    the final word table. Consumers emit a poison row under this
    condition, so an insufficient unroll depth shows up as a LOUD
    hash/row mismatch instead of a silently truncated merge list."""
    last_inc = " + ".join(f"(SELECT count(*) FROM ac{rounds}_{j})"
                          for j in range(1, batch + 1))
    return (f"((SELECT cm FROM cm{rounds}) + ({last_inc})) < {n_merges} "
            f"AND EXISTS (SELECT 1 FROM w{rounds + 1} WHERE "
            "len(string_split(trim(seq, '|'), '||')) >= 2)")


def _bpe_train_sql(n_merges: int, batch: int, rounds: int,
                   pretokenize: bool) -> str:
    """Merge-list twin of bpe_train_batched: (step, left, right,
    pair_count) in acceptance order, plus a poison row if the unroll
    depth proved insufficient (see _bpe_exhausted_cond)."""
    parts, _, accepts = _bpe_parts(n_merges, batch, rounds, pretokenize)
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS r, {j} AS j, a, b, cnt FROM {c}"
        for r, j, c in accepts)
    union += ("\nUNION ALL\nSELECT 999999 AS r, 0 AS j, "
              "'__ORACLE_UNROLL_EXHAUSTED__' AS a, '' AS b, "
              "CAST(-1 AS BIGINT) AS cnt WHERE "
              + _bpe_exhausted_cond(n_merges, batch, rounds))
    parts.append(f"allac AS ({union})")
    return ("WITH " + ",\n".join(parts) + "\n"
            "SELECT CAST(row_number() OVER (ORDER BY r, j) - 1 AS INTEGER)"
            " AS step, a AS \"left\", b AS \"right\", cnt AS pair_count "
            "FROM allac")


def _bpe_tokenize_sql(n_merges: int, batch: int, rounds: int) -> str:
    """Tokenizer twin of bpe_tokenize_ranked over the trained merges:
    the training chain's FINAL rewritten word table already holds every
    word's piece sequence (rank-based inference == the in-training-
    order fold because a merge's parts always predate it, so later
    merges cannot create earlier merges' pairs — equality also pinned
    Spark-side in tests/test_bpe.py), so n_pieces(doc) is just the sum
    of its words' final symbol counts."""
    parts, wf, _ = _bpe_parts(n_merges, batch, rounds, pretokenize=True)
    parts.append(f"wp AS (SELECT word, len(string_split(trim(seq, '|'), "
                 f"'||')) AS k FROM {wf})")
    parts.append("dw AS (SELECT doc_id, word FROM ("
                 f"SELECT doc_id, unnest(string_split({_NORM_TEXT}, ' '))"
                 " AS word FROM documents) WHERE word != '')")
    return ("WITH " + ",\n".join(parts) + "\n"
            "SELECT d.doc_id, CAST(coalesce(sum(x.k), 0) AS BIGINT)"
            " AS n_pieces "
            "FROM (SELECT doc_id FROM documents) d "
            "LEFT JOIN (SELECT dw.doc_id, wp.k FROM dw JOIN wp USING (word))"
            " x USING (doc_id) GROUP BY d.doc_id"
            "\nUNION ALL\nSELECT CAST(-1 AS BIGINT) AS doc_id, "
            "CAST(-1 AS BIGINT) AS n_pieces WHERE "
            + _bpe_exhausted_cond(n_merges, batch, rounds))


#: Unroll depths carry margin over the measured need (12 productive
#: rounds to saturation at sf0.01/sf0.1 for the 100-merge config, 3 for
#: the raw 24-merge config); the poison row makes any shortfall loud.
# Round 12 (VERDICT r11 ask 5): demo merges 100 -> 48 and unroll depth
# 16 -> 6 rounds (3 needed at batch 16, 2x headroom; the poison row in
# _bpe_exhausted_cond turns an insufficient unroll into a loud
# mismatch, never a silent truncation). Replay cost: 92 s -> 3.5 s for
# the train twin, 45 s -> 3.5 s for the tokenize twin at sf0.01 —
# these were the correctness sweep's heaviest rows.
BPE_TRAIN = _bpe_train_sql(n_merges=48, batch=16, rounds=6,
                           pretokenize=True)
BPE_TRAIN_RAW = _bpe_train_sql(n_merges=24, batch=8, rounds=5,
                               pretokenize=False)
BPE_TOKENIZE = _bpe_tokenize_sql(n_merges=48, batch=16, rounds=6)


def _curation_sql(threshold: float = 0.2, k: int = 8, iters: int = 3,
                  cap: int = 10) -> str:
    """Twin of queries.py::q_curation_pipeline — the end-to-end
    curation capstone assembled from the individually-green pieces:
    learned quality filter (pinned LR) + language filter + exact-dedup
    survivorship + SemDeDup semantic survivors (unrolled k-means over
    the embeddings, vec_id == doc_id in the testdata) + per-source
    quota (content-addressed draw)."""
    parts, _ = _kmeans_parts(k, iters)
    cos = ("round(list_dot_product(a.v, b.v) / "
           "(sqrt(list_dot_product(a.v, a.v)) * "
           "sqrt(list_dot_product(b.v, b.v))), 6)")
    parts.append(
        "av AS (SELECT af.vec_id, af.cluster, e.v FROM af "
        "JOIN e USING (vec_id))")
    parts.append(
        "semdrop AS (SELECT DISTINCT b.vec_id FROM av a "
        "JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id "
        f"WHERE {cos} >= {threshold})")
    parts.append(
        "semkeep AS (SELECT vec_id FROM av WHERE vec_id NOT IN "
        "(SELECT vec_id FROM semdrop))")
    parts.append(
        f"nn AS (SELECT doc_id, lang, source, text, {_NORM_TEXT} AS norm "
        "FROM documents)")
    parts.append(
        "tt AS (SELECT doc_id, lang, source, text, norm, "
        "string_split(norm, ' ') AS toks FROM nn)")
    parts.append(
        "scored AS (SELECT doc_id, lang, source, md5(norm) AS fingerprint, "
        f"{_quality_lr_p()} AS quality_p FROM tt)")
    parts.append(
        "kept AS (SELECT * FROM scored "
        "WHERE lang = 'en' AND quality_p > 0.5)")
    parts.append(
        "surv AS (SELECT fingerprint, min(doc_id) AS doc_id FROM kept "
        "GROUP BY fingerprint)")
    parts.append(
        "dedup AS (SELECT kk.* FROM kept kk JOIN surv s "
        "ON kk.fingerprint = s.fingerprint AND kk.doc_id = s.doc_id)")
    parts.append(
        "semjoin AS (SELECT d.* FROM dedup d JOIN semkeep sk "
        "ON d.doc_id = sk.vec_id)")
    return "WITH " + ",\n".join(parts) + f"""
SELECT doc_id, source, quality_p FROM (
    SELECT doc_id, source, quality_p,
           row_number() OVER (PARTITION BY source
                              ORDER BY {_draw_sql('doc_id', 5)}, doc_id)
           AS qr
    FROM semjoin
) WHERE qr <= {cap}
"""


#: threshold 0.5: the semantic stage drops true near-dups only (0.2
#: would flatten the whole corpus to per-cluster representatives)
CURATION_PIPELINE = _curation_sql(threshold=0.5)

_COS_AB = ("round(list_dot_product(va, vb) / (sqrt(list_dot_product(va, va)) * "
           "sqrt(list_dot_product(vb, vb))), 6)")

EMBEDDING_DEDUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  {_bucket('CAST(embedding AS DOUBLE[])')} AS bucket
           FROM embeddings),
     p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
           FROM e a JOIN e b ON a.bucket = b.bucket
           WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, {_COS_AB} AS score
FROM p WHERE {_COS_AB} >= 0.2
"""

_QUALITY_EXPR = ("round(" + SIGMOID.format(
    z="0.4 * (length(replace(norm, ' ', '')) / len(string_split(norm, ' ')))"
      " + 2.0 * (len(list_filter(string_split(norm, ' '), "
      f"t -> list_contains({_STOPLIST}, t))) / len(string_split(norm, ' ')))"
      " - 5.0 * (length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) / length(text))"
      " - 2.0") + ", 6)")

CORPUS_CLEAN = f"""
WITH n AS (SELECT doc_id, lang, text, {_NORM_TEXT} AS norm FROM documents),
     scored AS (SELECT doc_id, lang, md5(norm) AS fingerprint,
                       {_QUALITY_EXPR} AS quality
                FROM n),
     kept AS (SELECT * FROM scored WHERE lang = 'en' AND quality > 0.5),
     survivors AS (SELECT fingerprint, min(doc_id) AS doc_id
                   FROM kept GROUP BY fingerprint)
SELECT k.doc_id, k.fingerprint, k.quality
FROM kept k JOIN survivors s
  ON k.fingerprint = s.fingerprint AND k.doc_id = s.doc_id
"""

EVENTS_FUNNEL = """
WITH per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
    FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
       CAST(SUM(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased,
       CAST(SUM(CASE WHEN first_view < first_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM per_user
"""

# Twin of the REAL byte-level header parser (multimodal.py): the
# payload builder encodes dimensions as pure arithmetic in doc_id and
# the container format cycles by doc_id % 3 (png/jpeg/gif), with every
# 17th doc truncated to 5 bytes. The oracle recomputes the expected
# metadata from that arithmetic WITHOUT parsing binary — so the Spark
# side's struct.unpack offsets/endianness are what is actually checked.
# Header sizes: png 33 B, jpeg 33 B (SOI+APP0+SOF0), gif 13 B.
MULTIMODAL_META = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 17 = 0 THEN 5
                 WHEN doc_id % 3 = 2
                      THEN 13 + octet_length(encode(text))
                 ELSE 33 + octet_length(encode(text)) END
            AS INTEGER) AS byte_len,
       CASE WHEN doc_id % 17 = 0 THEN
                 CASE WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE NULL END
            WHEN doc_id % 3 = 0 THEN 'png'
            WHEN doc_id % 3 = 1 THEN 'jpeg'
            ELSE 'gif' END AS format,
       CAST(CASE WHEN doc_id % 17 = 0 THEN 0
                 ELSE 16 + doc_id % 256 END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 17 = 0 THEN 0
                 ELSE 16 + (doc_id * 7) % 256 END AS INTEGER) AS height,
       CASE WHEN doc_id % 17 = 0 THEN
                 CASE WHEN doc_id % 3 = 1 THEN 'no_sof'
                      ELSE 'unknown_format' END
            ELSE NULL END AS error
FROM documents
"""

# Twin of the REAL RIFF/WAVE parser (multimodal.py::parse_wav): the
# payload builder derives sample rate / channels / frame count — and
# every PCM16 sample value — arithmetically from doc_id, so this twin
# recomputes byte length, floor-division duration AND the RMS (via a
# generate_series over interleaved sample indexes) WITHOUT parsing
# binary. Sample i is ((doc_id*31 + i*7) % 2048) - 1024: squares are
# exact integers <= 1024^2, their sum < 2^53, so AVG is bit-exact in
# both engines and round(sqrt(.), 6) matches the Python side.
# Header = 44 B (RIFF 12 + fmt 24 + data header 8); every 17th doc is
# truncated to 5 bytes -> unknown_format error row.
AUDIO_META = """
WITH p AS (
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                WHEN 2 THEN 22050 ELSE 44100 END AS sr,
           1 + doc_id % 2 AS ch,
           50 + doc_id % 101 AS nf
    FROM documents
), idx AS (
    -- DuckDB's generate_series cannot take lateral column bounds;
    -- unnest(range(..)) fans each doc out to its sample indexes
    SELECT doc_id, sr, ch, nf, unnest(range(0, nf * ch)) AS i
    FROM p WHERE doc_id % 17 != 0
), valid AS (
    SELECT doc_id, sr, ch, nf,
           ROUND(sqrt(AVG(pow(((doc_id * 31 + i * 7) % 2048) - 1024,
                              2))), 6) AS rms
    FROM idx
    GROUP BY 1, 2, 3, 4
)
SELECT doc_id, CAST(44 + 2 * nf * ch AS INTEGER) AS byte_len,
       'wav' AS format, CAST(sr AS INTEGER) AS sample_rate,
       CAST(ch AS INTEGER) AS channels, CAST(16 AS INTEGER) AS bits,
       CAST(nf AS BIGINT) AS n_frames,
       CAST((nf * 1000) // sr AS BIGINT) AS duration_ms,
       rms, CAST(NULL AS VARCHAR) AS error
FROM valid
UNION ALL
SELECT doc_id, 5, NULL, 0, 0, 0, 0, 0, NULL, 'unknown_format'
FROM p WHERE doc_id % 17 = 0
"""

EVENTS_HOURLY = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

#: q_stream_hourly's drained final state must equal the batch hourly
#: aggregation — the stream (watermark + tumbling window, complete-mode
#: availableNow drain) is just the delivery mechanism. No n_users:
#: countDistinct is not legal inside a streaming aggregation, so the
#: streaming surface carries (count, decimal-exact sum) only.
STREAM_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

#: hourly_variants consolidation (round 10): batch rollup + drained
#: streaming final state as one tagged union — the streaming half
#: carries NULL n_users (countDistinct is illegal in a streaming agg).
#: Composes the ORIGINAL twins (single source of truth, review r10).
HOURLY_VARIANTS = f"""
SELECT 'batch' AS variant, event_type, hour, n_events, n_users,
       sum_value
FROM ({EVENTS_HOURLY})
UNION ALL
SELECT 'stream' AS variant, event_type, hour, n_events,
       CAST(NULL AS BIGINT) AS n_users, sum_value
FROM ({STREAM_HOURLY})
"""

EVENTS_SESSIONIZE = """
WITH flagged AS (
    SELECT user_id, event_id, epoch_us(ts) AS tsu,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
                WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
                ELSE 0 END AS newflag
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), s AS (
    SELECT user_id, event_id, tsu,
           CAST(SUM(newflag) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
    FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       strftime(make_timestamp(min(tsu)), '%Y-%m-%d %H:%M:%S') AS session_start,
       (max(tsu) - min(tsu)) / 1000000.0 AS duration_sec
FROM s GROUP BY user_id, session_id
"""

EVENTS_ASOF = """
SELECT l.event_id AS click_event_id, l.user_id,
       r.event_id AS view_event_id,
       epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""

TOPN_PER_GROUP = """
SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
    FROM orders
) WHERE rank <= 3
"""

FUNNEL_ORDERED = """
WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= v.t_view
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_buy
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(v.t_view) AS BIGINT) AS n_view,
       CAST(count(c.t_click) AS BIGINT) AS n_click_after_view,
       CAST(count(p.t_buy) AS BIGINT) AS n_purchase_after_click
FROM u LEFT JOIN v USING (user_id)
       LEFT JOIN c USING (user_id)
       LEFT JOIN p USING (user_id)
"""

#: tagged union of both funnels under generic stage names
#: (q_funnel_variants — the round-8 capacity consolidation)
FUNNEL_VARIANTS = (
    "SELECT 'unordered' AS variant, n_users, n_viewed AS stage1_n, "
    "n_purchased AS stage2_n, n_converted AS stage3_n "
    f"FROM ({EVENTS_FUNNEL}) "
    "UNION ALL "
    "SELECT 'ordered' AS variant, n_users, n_view AS stage1_n, "
    "n_click_after_view AS stage2_n, n_purchase_after_click AS stage3_n "
    f"FROM ({FUNNEL_ORDERED})")

#: tagged union of the two batch-CDC twins (q_cdc_batch_variants — the
#: round-11 capacity consolidation): the diff twin derives the change
#: set semantically, the merge twin IS the new snapshot
CDC_BATCH_VARIANTS = (
    "SELECT 'diff' AS variant, o_orderkey, op, "
    "CAST(NULL AS BIGINT) AS o_custkey, "
    "CAST(NULL AS VARCHAR) AS o_orderstatus, "
    "CAST(NULL AS DOUBLE) AS o_totalprice "
    f"FROM ({SNAPSHOT_DIFF}) "
    "UNION ALL "
    "SELECT 'merge' AS variant, o_orderkey, "
    "CAST(NULL AS VARCHAR) AS op, o_custkey, o_orderstatus, "
    f"o_totalprice FROM ({MERGE_UPSERT})")

#: q_cdc_stream's maintained snapshots must BOTH equal the NEW snapshot
#: — the same fully-independent twin as merge_upsert, once per
#: maintainer flavor: the stream is just the delivery mechanism and the
#: storage layout (in-memory frame vs bucket-partitioned parquet with
#: touched-bucket rewrites) is just the persistence mechanism; the
#: final state contract is identical and layout-independent.
CDC_STREAM = (
    "SELECT 'memory' AS variant, o_orderkey, o_custkey, o_orderstatus, "
    f"o_totalprice FROM ({MERGE_UPSERT}) "
    "UNION ALL "
    "SELECT 'partitioned' AS variant, o_orderkey, o_custkey, "
    f"o_orderstatus, o_totalprice FROM ({MERGE_UPSERT})")

#: Twin of queries.py::q_stream_variants — both streaming shapes
#: recomputed as independent BATCH queries over the raw events table:
#: the interval join as a pair-level range join (clicks within 10 min
#: at-or-before each purchase by the same user), the
#: applyInPandasWithState sessionizer as the lag-gap session reduction
#: (strictly-greater 30-min gap starts a new session — the stateful
#: kernel's exact boundary rule). A lost pair, an evicted-too-early
#: state row, or a batch-boundary session miscount all hash-mismatch.
STREAM_VARIANTS = """
SELECT 'interval_join' AS variant,
       p.event_id AS k1, c.event_id AS k2, p.user_id AS k3,
       epoch_us(p.ts) - epoch_us(c.ts) AS v
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND epoch_us(c.ts) > epoch_us(p.ts) - 600000000
 AND epoch_us(c.ts) <= epoch_us(p.ts)
UNION ALL
SELECT 'sessions' AS variant, user_id AS k1,
       count(*) AS k2,
       CAST(1 + sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS k3,
       max(tsu) AS v
FROM (SELECT user_id, epoch_us(ts) AS tsu,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
             AS gap
      FROM events)
GROUP BY user_id
UNION ALL
-- sessions_builtin (round 12): the production F.session_window path,
-- session-granularity lag-gap twin under the append-mode watermark
-- cut — a session is emitted iff its end (last event + 30 min gap)
-- precedes the final watermark (max event time - 2 h). Same
-- strictly-greater 30-min boundary rule as the custom kernel.
SELECT 'sessions_builtin' AS variant, user_id AS k1,
       CAST(n AS BIGINT) AS k2, st AS k3, en AS v
FROM (SELECT user_id,
             min(tsu) AS st,
             max(tsu) + 1800000000 AS en,
             count(*) AS n
      FROM (SELECT user_id, tsu,
                   sum(CASE WHEN gap IS NULL OR gap > 1800000000
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY tsu, eid
                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM (SELECT user_id, event_id AS eid, epoch_us(ts) AS tsu,
                         epoch_us(ts) - lag(epoch_us(ts)) OVER (
                             PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS gap
                  FROM events))
      GROUP BY user_id, sid)
WHERE en < (SELECT max(epoch_us(ts)) - 7200000000 FROM events)
"""

CUBE_PRICING = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""

ROLLUP_PRICING = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

#: Invariant twin for the layout-compaction audit (upgrades
#: layout_compact from rows-only): the Spark side derives every field
#: from the ACTUAL rewritten parquet files — n_files from the directory
#: listing, n_rows by summing real file row counts, range_overlaps from
#: real per-file [min,max] sort-key footer spans. The oracle states what
#: those measurements MUST equal if the compaction is correct: exactly
#: the requested 4 files, perfect row conservation vs the source table,
#: and zero overlapping key ranges (the property that makes row-group
#: pruning effective). A lost/duplicated row, an empty output split, or
#: a non-disjoint range hash-mismatches.
LAYOUT_COMPACT = """
SELECT CAST(4 AS INTEGER) AS n_files,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS INTEGER) AS range_overlaps
FROM documents
"""

EVENTS_ATTRIBUTION = """
WITH p AS (
    SELECT event_id, user_id, epoch_us(ts) AS pe
    FROM events WHERE event_type = 'purchase'
), c AS (
    SELECT user_id, epoch_us(ts) AS ce
    FROM events WHERE event_type = 'click'
)
SELECT p.event_id AS purchase_event_id, p.user_id,
       CAST(count(c.ce) AS BIGINT) AS n_clicks
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.ce > p.pe - 600000000
 AND c.ce <= p.pe
GROUP BY p.event_id, p.user_id
"""

# ------------------------------------------------------- graph analytics
# Twins of operators/graph_analytics.py. The Spark side uses the
# degree-ordered orientation (skew-proof at scale); these enumerate the
# SAME triangle/wedge sets with id-ordered joins — different order,
# identical sets, identical counts.

_COPURCHASE_CTE = """
li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
ok AS (SELECT k FROM li GROUP BY k HAVING count(*) <= 64),
li2 AS (SELECT li.k, li.p FROM li JOIN ok USING (k)),
pairs AS (SELECT a.p AS u, b.p AS v, count(*) AS w
          FROM li2 a JOIN li2 b ON a.k = b.k AND a.p < b.p
          GROUP BY 1, 2)
"""

COPURCHASE = f"""
WITH {_COPURCHASE_CTE}
SELECT u, v, w FROM pairs WHERE w >= 2
"""

TRIANGLES = f"""
WITH {_COPURCHASE_CTE},
e AS (SELECT u, v FROM pairs),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
nodes AS (SELECT a AS n FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
SELECT n AS l_partkey, count(*) AS n_triangles FROM nodes GROUP BY n
"""

CLUSTERING_COEFF = f"""
WITH {_COPURCHASE_CTE},
e AS (SELECT u, v FROM pairs),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
nodes AS (SELECT a AS n FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri),
t AS (SELECT n, count(*) AS nt FROM nodes GROUP BY n),
deg AS (SELECT n, count(*) AS deg
        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        GROUP BY n)
SELECT deg.n AS l_partkey, deg.deg,
       round(2.0 * coalesce(t.nt, 0) / (deg.deg * (deg.deg - 1)), 6) AS coeff
FROM deg LEFT JOIN t ON deg.n = t.n
WHERE deg.deg >= 2
"""

NODE_JACCARD = f"""
WITH {_COPURCHASE_CTE},
p2 AS (SELECT u, v FROM pairs WHERE w >= 2),
sym AS (SELECT u AS c, v AS n FROM p2 UNION ALL SELECT v, u FROM p2),
common AS (SELECT x.n AS a, y.n AS b, count(*) AS common
           FROM sym x JOIN sym y ON x.c = y.c AND x.n < y.n
           GROUP BY 1, 2 HAVING count(*) >= 2),
deg AS (SELECT c AS n, count(*) AS deg FROM sym GROUP BY c)
SELECT common.a, common.b, common.common,
       round(common.common / (da.deg + db.deg - common.common), 6) AS jaccard
FROM common
JOIN deg da ON da.n = common.a
JOIN deg db ON db.n = common.b
"""

GRAPH_BFS = f"""
WITH RECURSIVE {_COPURCHASE_CTE},
p2 AS (SELECT u, v FROM pairs WHERE w >= 2),
sym AS (SELECT u AS s, v AS t FROM p2 UNION ALL SELECT v, u FROM p2),
walk(node, dist) AS (
    SELECT min(u), 0 FROM p2
    UNION
    SELECT sym.t, walk.dist + 1
    FROM walk JOIN sym ON walk.node = sym.s
    WHERE walk.dist < 4
)
SELECT node AS l_partkey, CAST(min(dist) AS INTEGER) AS dist
FROM walk GROUP BY node
"""

CLUSTER_REP = f"""
WITH RECURSIVE
nd AS ({_near_dup_sql()}),
edges AS (SELECT id_a AS a, id_b AS b FROM nd
          UNION ALL
          SELECT id_b AS a, id_a AS b FROM nd),
verts AS (SELECT DISTINCT a AS v FROM edges),
reach(v, r) AS (
    SELECT v, v FROM verts
    UNION
    SELECT reach.v, e.b FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
j AS (SELECT comp.cluster_id, comp.doc_id, d.n_chars
      FROM comp JOIN documents d USING (doc_id)),
r AS (SELECT cluster_id, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM j)
SELECT cluster_id, doc_id AS rep_id, n_chars AS rep_chars FROM r WHERE rn = 1
"""

# incremental maintenance must equal the from-scratch recount exactly:
# the oracle for the delta-decomposition query IS the full-graph count
TRIANGLE_INCREMENT = TRIANGLES


def _k_core_sql(k: int = 3, rounds: int = 20) -> str:
    """Unrolled k-core peeling as chained CTEs (VERDICT r5 item 4).

    Iterative deletion is outside the recursive CTE's monotone-append
    model, but the fixpoint arrives in few rounds (degeneracy shells,
    11 at sf0.01), so ``rounds`` explicitly-chained deletion steps
    reach it. The final SELECT is guarded by a convergence check
    (|e_N| = |e_{N-1}|): if the unroll were ever too short the oracle
    returns 0 rows and the driver row goes red — loudly, instead of an
    under-peeled silent pass."""
    # MATERIALIZED is load-bearing: each round references the previous
    # round's CTE three times, so DuckDB's default inlining would blow
    # the plan up 3^rounds-fold (observed as 'Too many open files' —
    # thousands of inlined parquet scans).
    parts = ["e0 AS MATERIALIZED (SELECT u, v FROM pairs WHERE w >= 2)"]
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT n, count(*) AS deg FROM "
            f"(SELECT u AS n FROM e{r-1} UNION ALL SELECT v FROM e{r-1}) "
            f"GROUP BY n HAVING count(*) >= {k})")
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{r-1} e "
            f"JOIN d{r} a ON a.n = e.u JOIN d{r} b ON b.n = e.v)")
    chain = ",\n".join(parts)
    return f"""
WITH {_COPURCHASE_CTE},
{chain}
SELECT n AS l_partkey, deg AS core_deg
FROM (SELECT n, count(*) AS deg FROM
      (SELECT u AS n FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
      GROUP BY n)
WHERE deg >= {k}
  AND (SELECT count(*) FROM e{rounds}) =
      (SELECT count(*) FROM e{rounds - 1})
"""


K_CORE = _k_core_sql()


def _label_prop_sql(n_iter: int = 5) -> str:
    """Unrolled synchronous least-label LPA (twin of
    graph_analytics.py::label_propagation) — one (count, label) argmax
    per node per round, chained as MATERIALIZED CTEs (same exponential-
    inlining guard as the k-core twin)."""
    parts = [
        "p2 AS MATERIALIZED (SELECT u, v FROM pairs WHERE w >= 2)",
        "sym AS MATERIALIZED (SELECT u AS n, v AS m FROM p2 "
        "UNION SELECT v, u FROM p2)",
        "verts AS MATERIALIZED (SELECT DISTINCT n AS node FROM sym)",
        "l0 AS MATERIALIZED (SELECT node, node AS community FROM verts)",
    ]
    for r in range(1, n_iter + 1):
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT s.n AS node, l.community AS lab, "
            f"count(*) AS c FROM sym s JOIN l{r-1} l ON l.node = s.m "
            f"GROUP BY 1, 2)")
        parts.append(
            f"b{r} AS MATERIALIZED (SELECT node, lab FROM "
            f"(SELECT node, lab, row_number() OVER (PARTITION BY node "
            f"ORDER BY c DESC, lab ASC) AS rn FROM c{r}) WHERE rn = 1)")
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT v.node, "
            f"coalesce(b.lab, v.node) AS community "
            f"FROM verts v LEFT JOIN b{r} b USING (node))")
    chain = ",\n".join(parts)
    return f"""
WITH {_COPURCHASE_CTE},
{chain}
SELECT node AS l_partkey, community FROM l{n_iter}
"""


LABEL_PROP = _label_prop_sql()


def _graph_features_sql(k: int = 3, lpa_iter: int = 5,
                        core_rounds: int = 20) -> str:
    """Twin of queries.py::q_graph_features — the composed per-node
    feature table on the thresholded (w >= 2) co-purchase graph:
    degree, triangle count, LPA community, 3-core membership. Each
    block reuses the established unrolled patterns (MATERIALIZED
    chains; id-ordered triangles)."""
    parts = [
        "p2 AS MATERIALIZED (SELECT u, v FROM pairs WHERE w >= 2)",
        # degree
        "deg AS MATERIALIZED (SELECT n AS node, count(*) AS deg FROM "
        "(SELECT u AS n FROM p2 UNION ALL SELECT v FROM p2) GROUP BY n)",
        # triangles (id-ordered triple join)
        "tri3 AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c "
        "FROM p2 e1 JOIN p2 e2 ON e1.v = e2.u "
        "JOIN p2 e3 ON e3.u = e1.u AND e3.v = e2.v)",
        "tcnt AS MATERIALIZED (SELECT n AS node, count(*) AS n_triangles "
        "FROM (SELECT a AS n FROM tri3 UNION ALL SELECT b FROM tri3 "
        "UNION ALL SELECT c FROM tri3) GROUP BY n)",
        # LPA
        "sym AS MATERIALIZED (SELECT u AS n, v AS m FROM p2 "
        "UNION SELECT v, u FROM p2)",
        "verts AS MATERIALIZED (SELECT DISTINCT n AS node FROM sym)",
        "l0 AS MATERIALIZED (SELECT node, node AS community FROM verts)",
    ]
    for r in range(1, lpa_iter + 1):
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT s.n AS node, l.community AS lab, "
            f"count(*) AS c FROM sym s JOIN l{r-1} l ON l.node = s.m "
            f"GROUP BY 1, 2)")
        parts.append(
            f"b{r} AS MATERIALIZED (SELECT node, lab FROM "
            f"(SELECT node, lab, row_number() OVER (PARTITION BY node "
            f"ORDER BY c DESC, lab ASC) AS rn FROM c{r}) WHERE rn = 1)")
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT v.node, "
            f"coalesce(b.lab, v.node) AS community "
            f"FROM verts v LEFT JOIN b{r} b USING (node))")
    parts.append("e0 AS MATERIALIZED (SELECT u, v FROM p2)")
    for r in range(1, core_rounds + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT n, count(*) AS dd FROM "
            f"(SELECT u AS n FROM e{r-1} UNION ALL SELECT v FROM e{r-1}) "
            f"GROUP BY n HAVING count(*) >= {k})")
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{r-1} e "
            f"JOIN d{r} a ON a.n = e.u JOIN d{r} b ON b.n = e.v)")
    parts.append(
        f"core AS MATERIALIZED (SELECT n AS node FROM "
        f"(SELECT u AS n FROM e{core_rounds} "
        f"UNION ALL SELECT v FROM e{core_rounds}) GROUP BY n "
        f"HAVING count(*) >= {k} "
        f"AND (SELECT count(*) FROM e{core_rounds}) = "
        f"(SELECT count(*) FROM e{core_rounds - 1}))")
    chain = ",\n".join(parts)
    return f"""
WITH {_COPURCHASE_CTE},
{chain}
SELECT deg.node AS l_partkey, deg.deg,
       coalesce(tcnt.n_triangles, 0) AS n_triangles,
       l{lpa_iter}.community,
       (core.node IS NOT NULL) AS in_core
FROM deg
LEFT JOIN tcnt ON tcnt.node = deg.node
JOIN l{lpa_iter} ON l{lpa_iter}.node = deg.node
LEFT JOIN core ON core.node = deg.node
"""


GRAPH_FEATURES = _graph_features_sql()

#: Twin of q_assortativity — identical moment shapes: exact integer
#: sums, one final double expression, 6 dp.
ASSORTATIVITY = f"""
WITH {_COPURCHASE_CTE},
p2 AS MATERIALIZED (SELECT u, v FROM pairs WHERE w >= 2),
deg AS MATERIALIZED (SELECT n AS node, count(*) AS deg FROM
      (SELECT u AS n FROM p2 UNION ALL SELECT v FROM p2) GROUP BY n),
sym AS (SELECT u AS a, v AS b FROM p2 UNION ALL SELECT v, u FROM p2),
j AS (SELECT da.deg AS x, db.deg AS y FROM sym
      JOIN deg da ON da.node = sym.a JOIN deg db ON db.node = sym.b),
m AS (SELECT count(*) AS n,
             sum(CAST(x AS DECIMAL(27,0))) AS sx,
             sum(CAST(y AS DECIMAL(27,0))) AS sy,
             sum(CAST(x * y AS DECIMAL(27,0))) AS sxy,
             sum(CAST(x * x AS DECIMAL(27,0))) AS sxx,
             sum(CAST(y * y AS DECIMAL(27,0))) AS syy
      FROM j)
SELECT n AS n_endpoints,
       round((CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           AS assortativity
FROM m
"""



#: Twin of q_node_strength — weighted degree over the full projection.
NODE_STRENGTH = f"""
WITH {_COPURCHASE_CTE},
inc AS (SELECT u AS node, w FROM pairs
        UNION ALL SELECT v, w FROM pairs)
SELECT node AS l_partkey, CAST(sum(w) AS BIGINT) AS strength,
       count(*) AS n_neighbors
FROM inc GROUP BY node
"""



#: Twin of queries.py::q_centrality_audit (round 9 — the former
#: hyperball_audit + harmonic_audit slots consolidated): recomputes the
#: EXACT 1- and 2-ball sizes (closed neighborhoods) ONCE, then emits
#: both audit variants from the same ball table — the ball counts and
#: the radius-2 harmonic centrality — claiming every HLL-sketch
#: tolerance boolean TRUE; a drifting sketch flips a boolean → red row.
CENTRALITY_AUDIT = f"""
WITH {_COPURCHASE_CTE},
p2 AS MATERIALIZED (SELECT u, v FROM pairs WHERE w >= 2),
sym AS MATERIALIZED (SELECT u AS n, v AS m FROM p2
                     UNION SELECT v, u FROM p2),
b1 AS MATERIALIZED (SELECT n AS node, m AS x FROM sym
                    UNION SELECT n, n FROM sym),
c1 AS (SELECT node, count(*) AS n_ball_1 FROM b1 GROUP BY node),
b2 AS MATERIALIZED (
    SELECT DISTINCT node, x FROM (
        SELECT b1.node, s.m AS x FROM b1 JOIN sym s ON s.n = b1.x
        UNION ALL SELECT node, x FROM b1)),
c2 AS (SELECT node, count(*) AS n_ball_2 FROM b2 GROUP BY node),
balls AS (SELECT c1.node, c1.n_ball_1, c2.n_ball_2
          FROM c1 JOIN c2 ON c1.node = c2.node)
SELECT 'ball' AS variant, node AS l_partkey,
       CAST(n_ball_1 AS DOUBLE) AS m1, CAST(n_ball_2 AS DOUBLE) AS m2,
       TRUE AS ok1, TRUE AS ok2
FROM balls
UNION ALL
SELECT 'harmonic' AS variant, node AS l_partkey,
       round((n_ball_1 - 1) + (n_ball_2 - n_ball_1) / 2.0, 6) AS m1,
       -1.0 AS m2, TRUE AS ok1, TRUE AS ok2
FROM balls
"""


SMALL_LOTS = """
SELECT p.p_brand,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,6)))
            AS DOUBLE) AS small_lot_revenue,
       count(*) AS n_lineitems
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < 0.2 * (
    SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(27,6)))
                AS DOUBLE) / count(*)
    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
GROUP BY p.p_brand
"""

_EVENT_TYPES_SQL = ("click", "error", "purchase", "signup", "view")

# event_unpivot's lineage is stack(pivot(events)) with zero cells
# dropped, so this single twin checks BOTH the pivot mapping and the
# unpivot (a mis-mapped pivot column changes n_events) — the standalone
# event_pivot registry slot was consolidated away (VERDICT r6 item 3).
EVENT_UNPIVOT = f"""
SELECT user_id, event_type, count(*) AS n_events
FROM events
WHERE event_type IN {_EVENT_TYPES_SQL!r}
GROUP BY user_id, event_type
"""


# ---- link_pred_train retraining twin (VERDICT r7 item 2) ----------------

def _link_pred_train_sql(epochs: int = 3, lr: float = 0.5,
                         val_frac: float = 0.2) -> str:
    """Twin of queries.q_link_pred_train — DuckDB RETRAINS the logistic
    edge scorer (the quality_lr_train pattern, upgrading link_pred_train
    from rows-only): same dense-id FK edges, same md5-draw binary
    negatives (the NEGATIVE_SAMPLE recipe), same md5 hash split, then
    the full-batch plain-GD loop unrolled into per-epoch CTE chains —
    one epoch = (a) per-dimension gradient sums + confusion counts over
    the train split under the current weights, (b) w' = w - lr·(Σ/n),
    (c) val confusion counts under the UPDATED weights (the engine's
    exact timeline: history train acc is pre-step, val acc post-step).

    Cross-engine exactness: the per-epoch accuracy is INTEGER-derived
    (correct/n), so the only float sensitivity is an example's z
    crossing 0 within the engines' gradient sum-order divergence
    (~1e-15) — measure-zero on fixed data, the established convention
    (ml/train.py reference: train.py:72-80)."""
    d = 3
    split_md5 = ("md5(CAST(l.src AS VARCHAR) || ':' || "
                 "CAST(l.dst AS VARCHAR) || ':42')")
    feats = (
        "ex AS MATERIALIZED (SELECT l.src, l.dst, l.label, "
        "o.fs AS x1, c.fd AS x2, (0.0 + o.fs * c.fd) AS x3, "
        f"({_hex32_sql(split_md5)} / 4294967296.0) AS u "
        "FROM lab l JOIN ofeat o ON l.src = o.src "
        "JOIN cfeat c ON l.dst = c.dst)")
    parts = [
        f"e AS MATERIALIZED ({EDGES_FK})",
        "nn AS (SELECT count(*) AS n_nodes FROM customer)",
        "pos AS (SELECT src, dst, CAST(1 AS INTEGER) AS label FROM e)",
        f"negs AS (SELECT src, CAST({_hex32_sql(_edge_draw_sql('0:42'))}"
        " % nn.n_nodes AS BIGINT) AS dst, CAST(0 AS INTEGER) AS label"
        " FROM e, nn)",
        "lab AS MATERIALIZED (SELECT * FROM pos UNION ALL "
        "SELECT g.src, g.dst, g.label FROM negs g "
        "WHERE NOT EXISTS (SELECT 1 FROM e "
        "WHERE e.src = g.src AND e.dst = g.dst))",
        "oid AS (" + ids_cte("orders", "o_orderkey") + ")",
        "cid AS (" + ids_cte("customer", "c_custkey") + ")",
        "ofeat AS (SELECT oid.node_id AS src, o_totalprice / 100000.0 "
        "AS fs FROM orders JOIN oid ON o_orderkey = oid.pk)",
        "cfeat AS (SELECT cid.node_id AS dst, c_acctbal / 10000.0 "
        "AS fd FROM customer JOIN cid ON c_custkey = cid.pk)",
        feats,
        f"tr AS MATERIALIZED (SELECT x1, x2, x3, label FROM ex "
        f"WHERE u < CAST({1.0 - val_frac!r} AS DOUBLE))",
        f"vl AS MATERIALIZED (SELECT x1, x2, x3, label FROM ex "
        f"WHERE NOT (u < CAST({1.0 - val_frac!r} AS DOUBLE)))",
        "w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS wb)",
    ]

    def stats(name: str, src: str, wt: str) -> str:
        z = ("greatest(least((0.0 + x1 * w.w1 + x2 * w.w2 + x3 * w.w3)"
             " + w.wb, 30.0), -30.0)")
        inner = (f"SELECT x1, x2, x3, label, {SIGMOID.format(z=z)} AS p "
                 f"FROM {src}, {wt} w")
        return (f"{name} AS MATERIALIZED (SELECT "
                "sum((p - CAST(label AS DOUBLE)) * x1) AS g1, "
                "sum((p - CAST(label AS DOUBLE)) * x2) AS g2, "
                "sum((p - CAST(label AS DOUBLE)) * x3) AS g3, "
                "sum(p - CAST(label AS DOUBLE)) AS gb, "
                "count(*) AS n, "
                "sum(CAST(CAST(p > 0.5 AS INT) = label AS BIGINT)) "
                f"AS correct FROM ({inner}))")

    for t in range(epochs):
        parts.append(stats(f"st{t}", "tr", f"w{t}"))
        parts.append(
            f"w{t + 1} AS (SELECT "
            + ", ".join(f"w.w{i} - {lr!r} * (s.g{i} / s.n) AS w{i}"
                        for i in range(1, d + 1))
            + f", w.wb - {lr!r} * (s.gb / s.n) AS wb "
            f"FROM w{t} w, st{t} s)")
        parts.append(stats(f"vt{t}", "vl", f"w{t + 1}"))
    finals = [
        f"SELECT CAST({t} AS INTEGER) AS epoch, "
        f"CAST(st{t}.correct AS DOUBLE) / st{t}.n AS train_acc, "
        f"CAST(vt{t}.correct AS DOUBLE) / vt{t}.n AS val_acc "
        f"FROM st{t}, vt{t}" for t in range(epochs)]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


LINK_PRED_TRAIN = _link_pred_train_sql()


# ---- hetero GATv2 forward twin (VERDICT r7 item 1) ----------------------

#: node types of the inferred graph: name -> (pk column, numeric feature
#: columns in schema order — catalog.TABLE_SCHEMAS numeric minus PK/FK;
#: the degree feature is appended last, mirroring build_graph's join
#: order). Kept as an independent static description (like _PKS /
#: _FWD_COUNTS) rather than imported from the engine, so the twin
#: re-derives the graph rather than trusting the builder.
_HF_TYPES: dict[str, tuple[str, list[str]]] = {
    "customer": ("c_custkey", ["c_acctbal"]),
    "documents": ("doc_id", ["n_chars"]),
    "embeddings": ("vec_id", ["label"]),
    "events": ("event_id", ["user_id", "value"]),
    "nation": ("n_nationkey", []),
    "orders": ("o_orderkey", ["o_totalprice"]),
    "part": ("p_partkey", ["p_size", "p_retailprice"]),
    "region": ("r_regionkey", []),
    "supplier": ("s_suppkey", ["s_acctbal"]),
}

#: forward edge types (src_type, rel, dst_type) -> SQL producing
#: (src_pk, dst_pk) with the engine's null-drop + inner remap-join
#: semantics (an FK value absent from the target pk set drops the edge)
_HF_FWD: dict[tuple[str, str, str], str] = {
    ("nation", "hasRegion", "region"):
        "SELECT n_nationkey AS src_pk, n_regionkey AS dst_pk FROM nation "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE n_nationkey IS NOT NULL",
    ("customer", "hasNation", "nation"):
        "SELECT c_custkey AS src_pk, c_nationkey AS dst_pk FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_custkey IS NOT NULL",
    ("supplier", "hasNation", "nation"):
        "SELECT s_suppkey AS src_pk, s_nationkey AS dst_pk FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE s_suppkey IS NOT NULL",
    ("orders", "hasCust", "customer"):
        "SELECT o_orderkey AS src_pk, o_custkey AS dst_pk FROM orders "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE o_orderkey IS NOT NULL",
    ("orders", "hasPart", "part"):
        "SELECT l_orderkey AS src_pk, l_partkey AS dst_pk FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN part ON l_partkey = p_partkey "
        "WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL",
}


def _hetero_forward_q_sql(hidden: int = 2, seed: int = 42,
                          probe: str | None = None,
                          recommend_k: int | None = None) -> str:
    """Twin of queries.q_hetero_forward_q — DuckDB REPLAYS the full
    heterogeneous GATv2 forward (ml/hetero.py::hetero_gat_forward
    quantize=True, hidden=2, layers=1: one input projection and one
    tagged-union ``hetero_layer``) over the raw parquet tables:

      * degrees from the forward edge types (+1, isolated=1 — the
        C:217-241 semantics, before reverse/self-loop edges);
      * per-type max-abs feature scaling and the seeded input
        projection (weights re-drawn with the identical numpy
        default_rng sequence and inlined as full-precision literals);
      * per edge type (incl. REVERSE_* and SELF_LOOP): the GATv2
        attention pass — w_l/w_r projections, e = a·LeakyReLU(s+t),
        per-dst softmax (the engine's per-(tag, dst) window over the
        tag-unioned edges) with round(exp(e-max), 6) numerators and a
        DECIMAL(27,6) partition sum, α-weighted message sums with
        round(α·s_i, 6) terms (the engine's quantize=True contract);
      * per node type: W_self projection + messages added in sorted
        edge-type order (aggr='sum'; the engine's pivot + fixed-order
        adds), round(sigmoid, 6);
      * the per-type (n_nodes, decimal-sum dim1, dim2) summary.

    Natural pks stand in for dense node ids — the id permutation only
    routes messages between the same entities, and the per-type sums
    are permutation-invariant, so the twin needs no id assignment.
    Every order-dependent reduction is quantized on BOTH sides; all
    remaining arithmetic is fixed-order per-row double math, generated
    here with the same association order as the engine's expressions
    (dot = left fold from 0.0).

    ``recommend_k`` (round 9, VERDICT r8 item 3) switches the twin to
    the full INFERENCE path of queries.q_recommend_gnn — the same
    quantized forward but over the MUTATED graph (operators/mutate.py
    G9 REPLACE semantics, reference I:44-76): one appended "playlist"
    order node (pk -1 here, zero features, degree = |basket|+1, where
    basket = the distinct parts of the lowest-keyed order), the
    orders-hasPart-part edge type REPLACED by only the new node's
    basket edges (ditto its REVERSE_), the new self-loop arriving via
    the emb0-driven loop CTE, degrees and every other edge type
    untouched — then dot-decode + round(sigmoid, 6) of the new node's
    embedding against every non-basket part and the top-k by
    (prob DESC, p_partkey): ranks on 6-dp-quantized scores are
    integer-derived, immune to last-ulp drift."""
    import numpy as np

    rng = np.random.default_rng(seed)
    tnames = sorted(_HF_TYPES)
    w0 = {}
    for t in tnames:
        in_dim = len(_HF_TYPES[t][1]) + 1          # + degree
        w0[t] = rng.normal(0, 0.5, size=(hidden, in_dim))

    edge_types = (list(_HF_FWD)
                  + [(d, f"REVERSE_{r}", s) for (s, r, d) in _HF_FWD]
                  + [(t, "SELF_LOOP", t) for t in tnames])
    edge_types.sort()
    ew = {}
    for et in edge_types:
        ew[et] = (rng.normal(0, 0.5, size=(hidden, hidden)),
                  rng.normal(0, 0.5, size=(hidden, hidden)),
                  rng.normal(0, 0.5, size=hidden))
    w_self = {t: rng.normal(0, 0.5, size=(hidden, hidden)) for t in tnames}

    def lit(v: float) -> str:
        return repr(float(v))

    def linproj(w, cols: list[str]) -> list[str]:
        """dot(emb, w[o]) with the engine's left-fold order."""
        return ["0.0 + " + " + ".join(f"({c}) * {lit(w[o][j])}"
                                      for j, c in enumerate(cols))
                for o in range(w.shape[0])]

    key = {et: f"{et[0]}_{et[1]}_{et[2]}".lower() for et in edge_types}
    dims = range(1, hidden + 1)
    parts: list[str] = []

    # forward edge tables (also the degree inputs)
    for et, sql in _HF_FWD.items():
        parts.append(f"e_{key[et]} AS MATERIALIZED ({sql})")
    if recommend_k is not None:
        parts.append(
            "basket AS MATERIALIZED (SELECT DISTINCT l_partkey AS pk "
            "FROM lineitem WHERE l_orderkey = "
            "(SELECT min(l_orderkey) FROM lineitem))")

    # degree per type: endpoint appearances over FORWARD edges + 1
    for t in tnames:
        pk = _HF_TYPES[t][0]
        ends = [f"SELECT src_pk AS pk FROM e_{key[et]}"
                for et in _HF_FWD if et[0] == t]
        ends += [f"SELECT dst_pk AS pk FROM e_{key[et]}"
                 for et in _HF_FWD if et[2] == t]
        if ends:
            cnt = (" UNION ALL ".join(ends))
            parts.append(
                f"deg_{t} AS (SELECT b.{pk} AS pk, "
                f"CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE) AS degree "
                f"FROM {t} b LEFT JOIN (SELECT pk, count(*) AS cnt "
                f"FROM ({cnt}) GROUP BY pk) c ON b.{pk} = c.pk)")
        else:
            parts.append(f"deg_{t} AS (SELECT {pk} AS pk, "
                         f"CAST(1 AS DOUBLE) AS degree FROM {t})")

    # max-abs scaled features + seeded input projection -> emb0
    for t in tnames:
        pk, feats = _HF_TYPES[t]
        fcols = [f"CAST(b.{c} AS DOUBLE)" for c in feats] + ["d.degree"]
        sel = ", ".join(f"{c} AS f{i + 1}" for i, c in enumerate(fcols))
        new_node = ""
        if recommend_k is not None and t == "orders":
            # the appended inference node (mutate.py / I:52-55): zero
            # features, degree = |basket| + 1, sentinel pk -1
            zeros = ", ".join(f"0.0 AS f{i + 1}"
                              for i in range(len(fcols) - 1))
            new_node = (
                f" UNION ALL SELECT CAST(-1 AS BIGINT) AS pk, {zeros}, "
                f"(SELECT CAST(count(*) + 1 AS DOUBLE) FROM basket) "
                f"AS f{len(fcols)}")
        parts.append(f"nf_{t} AS (SELECT b.{pk} AS pk, {sel} "
                     f"FROM {t} b JOIN deg_{t} d ON b.{pk} = d.pk"
                     f"{new_node})")
        mx = ", ".join(f"greatest(max(abs(f{i + 1})), 1e-12) AS m{i + 1}"
                       for i in range(len(fcols)))
        parts.append(f"mx_{t} AS (SELECT {mx} FROM nf_{t})")
        scaled = [f"n.f{i + 1} / m.m{i + 1}" for i in range(len(fcols))]
        proj = linproj(w0[t], scaled)
        # linear_layer's default sigmoid activation on the input
        # projection, rounded to 6 dp (the engine's quantize contract)
        sel = ", ".join(
            f"round({SIGMOID.format(z=p)}, 6) AS e{o + 1}"
            for o, p in enumerate(proj))
        parts.append(f"emb0_{t} AS MATERIALIZED (SELECT n.pk, {sel} "
                     f"FROM nf_{t} n, mx_{t} m)")

    # per-edge-type GATv2 attention pass -> msg_<k>(pk, m1..mh)
    for et in edge_types:
        s, rel, d = et
        k = key[et]
        w_l, w_r, a = ew[et]
        if rel == "SELF_LOOP":
            # under recommend_k the emb0_orders-driven loop set already
            # contains the appended node (mutate.py appends its loop)
            edge_src = f"(SELECT pk AS src_pk, pk AS dst_pk FROM emb0_{s})"
        elif recommend_k is not None and et == ("orders", "hasPart",
                                                "part"):
            # G9 REPLACE semantics (I:58-59): ONLY the new node's edges
            edge_src = ("(SELECT CAST(-1 AS BIGINT) AS src_pk, "
                        "pk AS dst_pk FROM basket)")
        elif recommend_k is not None and et == ("part",
                                                "REVERSE_hasPart",
                                                "orders"):
            edge_src = ("(SELECT pk AS src_pk, "
                        "CAST(-1 AS BIGINT) AS dst_pk FROM basket)")
        elif rel.startswith("REVERSE_"):
            fwd = (d, rel[len("REVERSE_"):], s)
            edge_src = (f"(SELECT dst_pk AS src_pk, src_pk AS dst_pk "
                        f"FROM e_{key[fwd]})")
        else:
            edge_src = f"e_{k}"
        sp = ", ".join(f"{p} AS s{o + 1}" for o, p in enumerate(
            linproj(w_l, [f"e{j + 1}" for j in range(hidden)])))
        tp = ", ".join(f"{p} AS t{o + 1}" for o, p in enumerate(
            linproj(w_r, [f"e{j + 1}" for j in range(hidden)])))
        parts.append(f"sp_{k} AS (SELECT pk, {sp} FROM emb0_{s})")
        parts.append(f"tp_{k} AS (SELECT pk, {tp} FROM emb0_{d})")
        lrelu = [f"(CASE WHEN (s{i} + t{i}) > 0 THEN (s{i} + t{i}) "
                 f"ELSE (s{i} + t{i}) * 0.2 END)" for i in dims]
        escore = "0.0 + " + " + ".join(
            f"{lr} * {lit(a[i])}" for i, lr in enumerate(lrelu))
        scols = ", ".join(f"sp.s{i}" for i in dims)
        tcols = ", ".join(f"tp.t{i}" for i in dims)
        parts.append(
            f"ew_{k} AS MATERIALIZED (SELECT e.dst_pk, {scols}, {tcols}, "
            f"{escore} AS ee FROM {edge_src} e "
            f"JOIN sp_{k} sp ON e.src_pk = sp.pk "
            f"JOIN tp_{k} tp ON e.dst_pk = tp.pk)")
        parts.append(f"mxz_{k} AS (SELECT dst_pk, max(ee) AS mx "
                     f"FROM ew_{k} GROUP BY dst_pk)")
        parts.append(
            f"aw_{k} AS MATERIALIZED (SELECT w.dst_pk, "
            + ", ".join(f"w.s{i}" for i in dims)
            + ", round(exp(w.ee - m.mx), 6) AS wq "
            f"FROM ew_{k} w JOIN mxz_{k} m ON w.dst_pk = m.dst_pk)")
        parts.append(
            f"z_{k} AS (SELECT dst_pk, CAST(sum(CAST(wq AS DECIMAL(27,6)))"
            f" AS DOUBLE) AS z FROM aw_{k} GROUP BY dst_pk)")
        msum = ", ".join(
            f"CAST(sum(CAST(round((a.wq / z.z) * a.s{i}, 6) "
            f"AS DECIMAL(27,6))) AS DOUBLE) AS m{i}" for i in dims)
        parts.append(
            f"msg_{k} AS MATERIALIZED (SELECT a.dst_pk AS pk, {msum} "
            f"FROM aw_{k} a JOIN z_{k} z ON a.dst_pk = z.dst_pk "
            f"GROUP BY a.dst_pk)")

    # per-type combine: W_self projection + aggr='sum' over incoming
    # messages in sorted edge-type order, round(sigmoid, 6)
    for t in tnames:
        incoming = [et for et in edge_types if et[2] == t]
        selfp = linproj(w_self[t], [f"b.e{j + 1}" for j in range(hidden)])
        joins = "".join(
            f" LEFT JOIN msg_{key[et]} g{gi} ON b.pk = g{gi}.pk"
            for gi, et in enumerate(incoming))
        zs = []
        for i in dims:
            expr = f"({selfp[i - 1]})"
            for gi in range(len(incoming)):
                expr = f"{expr} + COALESCE(g{gi}.m{i}, 0.0)"
            zs.append(f"round({SIGMOID.format(z=expr)}, 6) AS e{i}")
        parts.append(f"emb1_{t} AS (SELECT b.pk, " + ", ".join(zs)
                     + f" FROM emb0_{t} b{joins})")

    finals = [
        f"SELECT '{t}' AS node_type, count(*) AS n_nodes, "
        + ", ".join(
            f"round(CAST(sum(CAST(e{i} AS DECIMAL(27,6))) AS DOUBLE), 6)"
            f" AS sum_dim{i}" for i in dims)
        + f" FROM emb1_{t}" for t in tnames]
    if recommend_k is not None:
        # dot decode with the engine's left-fold order (src emb first)
        dot = "0.0 + " + " + ".join(f"s.e{i} * d.e{i}" for i in dims)
        parts.append("srcn AS (SELECT "
                     + ", ".join(f"e{i}" for i in dims)
                     + " FROM emb1_orders WHERE pk = -1)")
        finals = [
            f"SELECT d.pk AS p_partkey, "
            f"round({SIGMOID.format(z=dot)}, 6) AS prob "
            f"FROM emb1_part d, srcn s "
            f"WHERE d.pk NOT IN (SELECT pk FROM basket) "
            f"ORDER BY prob DESC, p_partkey LIMIT {recommend_k}"]
    if probe:                               # debugging aid, not an oracle
        if probe == "deg":
            finals = [f"SELECT '{t}' AS node_type, sum(degree) AS s "
                      f"FROM deg_{t}" for t in tnames]
        elif probe == "emb0":
            finals = [f"SELECT '{t}' AS node_type, "
                      + ", ".join(f"sum(round(e{i}, 6)) AS s{i}"
                                  for i in dims)
                      + f" FROM emb0_{t}" for t in tnames]
        elif probe.startswith("msg:"):
            k = probe[4:]
            finals = [f"SELECT CAST(pk AS VARCHAR) AS pk, "
                      + ", ".join(f"m{i}" for i in dims) + f" FROM msg_{k}"]
        elif probe.startswith("emb1:"):
            t = probe[5:]
            finals = [f"SELECT CAST(pk AS VARCHAR) AS pk, "
                      + ", ".join(f"e{i}" for i in dims)
                      + f" FROM emb1_{t}"]
        elif probe == "msgsums":
            finals = [f"SELECT '{key[et]}' AS k, "
                      + ", ".join(f"sum(round(m{i}, 6)) AS s{i}"
                                  for i in dims)
                      + f" FROM msg_{key[et]}" for et in edge_types]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


HETERO_FORWARD_Q = _hetero_forward_q_sql()

RECOMMEND_GNN = _hetero_forward_q_sql(recommend_k=10)


def _gat_ring_setup_parts(val_frac: float, seed: int) -> list:
    """The stack-trainer twins' shared prelude: scalable-id
    customer graph (ring + self loops), max-abs scaled
    (c_acctbal, degree) features, stride-pair same-nation
    labels, md5-draw split — the SQL re-derivation of
    queries._ring_stride_fixture, emitted once for both
    _gat_stack_train_q_sql and its sampled sibling."""
    def lit(v: float) -> str:
        return repr(float(v))

    parts: list = []
    parts.append("cid AS MATERIALIZED ("
                 + ids_scalable_cte("customer", "c_custkey") + ")")
    parts.append("nn AS (SELECT count(*) AS n FROM cid)")
    parts.append(
        "degc AS (SELECT b.c_custkey AS pk, "
        "CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE) AS degree FROM customer b "
        "LEFT JOIN (SELECT pk, count(*) AS cnt FROM ("
        "SELECT c_custkey AS pk FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_custkey IS NOT NULL "
        "UNION ALL SELECT o_custkey FROM orders "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE o_orderkey IS NOT NULL) GROUP BY pk) c "
        "ON b.c_custkey = c.pk)")
    parts.append("nfc AS (SELECT b.c_custkey AS pk, "
                 "CAST(b.c_acctbal AS DOUBLE) AS f1, d.degree AS f2 "
                 "FROM customer b JOIN degc d ON b.c_custkey = d.pk)")
    parts.append("mxc AS (SELECT greatest(max(abs(f1)), 1e-12) AS m1, "
                 "greatest(max(abs(f2)), 1e-12) AS m2 FROM nfc)")
    parts.append("emb0 AS MATERIALIZED (SELECT cid.node_id, "
                 "n.f1 / m.m1 AS e1, n.f2 / m.m2 AS e2 "
                 "FROM nfc n JOIN cid ON n.pk = cid.pk, mxc m)")
    parts.append("edges AS MATERIALIZED ("
                 "SELECT node_id AS src, (node_id + 1) % n.n AS dst "
                 "FROM cid, nn n "
                 "UNION ALL SELECT node_id, node_id FROM cid)")
    parts.append("cnk AS (SELECT cid.node_id, c_nationkey AS nk "
                 "FROM customer JOIN cid ON c_custkey = cid.pk)")
    parts.append("strides AS (SELECT s.node_id AS src, "
                 "(s.node_id + k.k) % n.n AS dst "
                 "FROM cnk s, (VALUES (1), (7), (13)) k(k), nn n)")
    parts.append("ex0 AS (SELECT st.src, st.dst, "
                 "CAST(sa.nk = sb.nk AS INTEGER) AS label FROM strides st "
                 "JOIN cnk sa ON sa.node_id = st.src "
                 "JOIN cnk sb ON sb.node_id = st.dst)")
    cut = lit(1.0 - val_frac)
    parts.append(
        "exs AS MATERIALIZED (SELECT src, dst, label, "
        f"({_hex32_sql(_edge_draw_sql(str(seed)))} / 4294967296.0) AS u "
        "FROM ex0)")
    parts.append("tr AS MATERIALIZED (SELECT src, dst, label FROM exs "
                 f"WHERE u < CAST({cut} AS DOUBLE))")
    parts.append("vl AS MATERIALIZED (SELECT src, dst, label FROM exs "
                 f"WHERE NOT (u < CAST({cut} AS DOUBLE)))")
    return parts


def _gat_stack_w0_part(seed: int, hidden: int, d_in: int,
                       layers: int) -> str:
    """Initial weights as one literal CTE row — the trainers' exact
    numpy default_rng(seed) draw sequence, shared by both stack twins."""
    import numpy as np

    rng = np.random.default_rng(seed)
    init = []
    dim = d_in
    for _ in range(layers):
        init.append((rng.normal(0, 0.5, size=(hidden, dim)),
                     rng.normal(0, 0.5, size=(hidden, dim)),
                     rng.normal(0, 0.5, size=hidden)))
        dim = hidden
    dims = range(1, hidden + 1)
    indims = {L: (d_in if L == 0 else hidden) for L in range(layers)}

    def lit(v: float) -> str:
        return repr(float(v))

    wcols = []
    for L, (Wl, Wr, a) in enumerate(init):
        for r in dims:
            for c in range(1, indims[L] + 1):
                wcols.append(f"{lit(Wl[r - 1][c - 1])} AS wl{L}_{r}{c}")
                wcols.append(f"{lit(Wr[r - 1][c - 1])} AS wr{L}_{r}{c}")
        for i in dims:
            wcols.append(f"{lit(a[i - 1])} AS a{L}_{i}")
    wcols.append("0.0 AS bb")
    return "w0 AS (SELECT " + ", ".join(wcols) + ")"


def _gat_stack_emitters(parts: list, hidden: int, d_in: int,
                        layers: int, lr: float):
    """CTE emitters shared by the full-batch and sampled
    stack-trainer twins (the backprop algebra exists ONCE): each
    appends into ``parts``. ``forward(tag, w, edges_cte, base,
    closure)`` emits the quantized stack forward (closure=None ->
    inner node emission, the full-graph shape; a closure CTE ->
    LEFT-JOIN zero rows, the sampled-subgraph shape);
    ``decode(tag, exset, w, name)`` the dot-decoder stats;
    ``backward(tag, w, sc, base)`` the full backprop;
    ``update(g, tag)`` the plain-GD step w{g} -> w{g+1}."""
    dims = range(1, hidden + 1)
    indims = {L: (d_in if L == 0 else hidden) for L in range(layers)}
    sig = SIGMOID

    def lit(v: float) -> str:
        return repr(float(v))

    def forward(tag: str, w: str, edges_cte: str, base: str,
                closure: str | None) -> str:
        """Quantized stack forward over ``edges_cte`` starting from
        ``base`` embeddings under weights ``w`` → fe{tag}_L per layer.
        ``closure``: emit a row for EVERY closure node (zeros where no
        in-edges — the attention_layer coalesce); None = inner shape
        (full graph: every node has in-edges)."""
        prev = base
        for L in range(layers):
            nd = range(1, indims[L] + 1)
            sp = ", ".join(
                "0.0 + " + " + ".join(f"n.e{c} * w.wl{L}_{r}{c}"
                                      for c in nd) + f" AS s{r}"
                for r in dims)
            tp = ", ".join(
                "0.0 + " + " + ".join(f"n.e{c} * w.wr{L}_{r}{c}"
                                      for c in nd) + f" AS t{r}"
                for r in dims)
            parts.append(f"sp{tag}_{L} AS (SELECT n.node_id, {sp} "
                         f"FROM {prev} n, {w} w)")
            parts.append(f"tp{tag}_{L} AS (SELECT n.node_id, {tp} "
                         f"FROM {prev} n, {w} w)")
            qs = ", ".join(f"sp.s{i} + tp.t{i} AS q{i}" for i in dims)
            rs = ", ".join(
                f"(CASE WHEN (sp.s{i} + tp.t{i}) > 0 "
                f"THEN (sp.s{i} + tp.t{i}) "
                f"ELSE (sp.s{i} + tp.t{i}) * 0.2 END) AS r{i}"
                for i in dims)
            ss = ", ".join(f"sp.s{i}" for i in dims)
            parts.append(
                f"ef{tag}_{L} AS MATERIALIZED (SELECT e.src, e.dst, {ss}, "
                f"{qs}, {rs}, 0.0 + "
                + " + ".join(
                    f"(CASE WHEN (sp.s{i} + tp.t{i}) > 0 "
                    f"THEN (sp.s{i} + tp.t{i}) "
                    f"ELSE (sp.s{i} + tp.t{i}) * 0.2 END) * w.a{L}_{i}"
                    for i in dims)
                + f" AS ee FROM {edges_cte} e "
                f"JOIN sp{tag}_{L} sp ON e.src = sp.node_id "
                f"JOIN tp{tag}_{L} tp ON e.dst = tp.node_id, {w} w)")
            parts.append(f"mxe{tag}_{L} AS (SELECT dst, max(ee) AS m "
                         f"FROM ef{tag}_{L} GROUP BY dst)")
            keep = ", ".join(f"f.s{i}" for i in dims) + ", " + \
                ", ".join(f"f.q{i}" for i in dims) + ", " + \
                ", ".join(f"f.r{i}" for i in dims)
            parts.append(
                f"aw{tag}_{L} AS MATERIALIZED (SELECT f.src, f.dst, "
                f"{keep}, round(exp(f.ee - m.m), 6) AS wq "
                f"FROM ef{tag}_{L} f JOIN mxe{tag}_{L} m ON f.dst = m.dst)")
            parts.append(
                f"z{tag}_{L} AS (SELECT dst, "
                f"CAST(sum(CAST(wq AS DECIMAL(27,6))) AS DOUBLE) AS z "
                f"FROM aw{tag}_{L} GROUP BY dst)")
            parts.append(
                f"al{tag}_{L} AS MATERIALIZED (SELECT a.*, a.wq / z.z "
                f"AS alpha FROM aw{tag}_{L} a JOIN z{tag}_{L} z "
                f"ON a.dst = z.dst)")
            ms = ", ".join(
                f"CAST(sum(CAST(round(alpha * s{i}, 6) "
                f"AS DECIMAL(27,6))) AS DOUBLE) AS m{i}" for i in dims)
            parts.append(f"ma{tag}_{L} AS (SELECT dst AS node_id, {ms} "
                         f"FROM al{tag}_{L} GROUP BY dst)")
            if closure is None:
                es = ", ".join(
                    f"round({sig.format(z=f'm{i}')}, 6) AS e{i}"
                    for i in dims)
                mcols = ", ".join(f"m{i}" for i in dims)
                parts.append(f"fe{tag}_{L} AS MATERIALIZED "
                             f"(SELECT node_id, {es}, {mcols} "
                             f"FROM ma{tag}_{L})")
            else:
                es = ", ".join(
                    "CASE WHEN m.node_id IS NULL THEN 0.0 ELSE round("
                    + sig.format(z=f"m.m{i}") + f", 6) END AS e{i}"
                    for i in dims)
                mcols = ", ".join(f"COALESCE(m.m{i}, 0.0) AS m{i}"
                                  for i in dims)
                parts.append(
                    f"fe{tag}_{L} AS MATERIALIZED (SELECT c.node_id, "
                    f"{es}, {mcols} FROM {closure} c "
                    f"LEFT JOIN ma{tag}_{L} m ON c.node_id = m.node_id)")
            prev = f"fe{tag}_{L}"
        return prev

    def decode(tag: str, exset: str, w: str, name: str) -> None:
        top = f"fe{tag}_{layers - 1}"
        hu = ", ".join(f"hu.e{i} AS hu{i}" for i in dims)
        hv = ", ".join(f"hv.e{i} AS hv{i}" for i in dims)
        zc = ("(0.0 + "
              + " + ".join(f"hu.e{i} * hv.e{i}" for i in dims)
              + ") + w.bb")
        parts.append(
            f"sc{name} AS MATERIALIZED (SELECT s.src, s.dst, s.label, "
            f"{hu}, {hv}, "
            f"{sig.format(z=f'greatest(least({zc}, 30.0), -30.0)')} AS p "
            f"FROM {exset} s JOIN {top} hu ON s.src = hu.node_id "
            f"JOIN {top} hv ON s.dst = hv.node_id, {w} w)")
        parts.append(
            f"st{name} AS MATERIALIZED (SELECT count(*) AS n, "
            f"sum(CAST(CAST(p > 0.5 AS INT) = label AS BIGINT)) "
            f"AS correct, sum(p - CAST(label AS DOUBLE)) AS gb "
            f"FROM sc{name})")

    def backward(tag: str, w: str, sc: str, base: str) -> None:
        """Backprop over the tag's forward (al{tag}_L / fe{tag}_L),
        gradient source ``sc`` examples, layer-0 inputs ``base`` →
        gwl{tag}_L / gwr{tag}_L / ga{tag}_L."""
        gs = ", ".join(f"sum(g{i}) AS g{i}" for i in dims)
        u1 = ", ".join(f"(s.p - CAST(s.label AS DOUBLE)) * s.hv{i} AS g{i}"
                       for i in dims)
        u2 = ", ".join(f"(s.p - CAST(s.label AS DOUBLE)) * s.hu{i} AS g{i}"
                       for i in dims)
        parts.append(
            f"gtop{tag} AS MATERIALIZED (SELECT node_id, {gs} FROM ("
            f"SELECT s.src AS node_id, {u1} FROM {sc} s "
            f"UNION ALL SELECT s.dst AS node_id, {u2} FROM {sc} s) "
            f"GROUP BY node_id)")
        G = f"gtop{tag}"
        for L in range(layers - 1, -1, -1):
            H = f"fe{tag}_{L}"
            emb_in = base if L == 0 else f"fe{tag}_{L - 1}"
            gm = ", ".join(
                f"g.g{i} * h.e{i} * (1 - h.e{i}) AS gm{i}" for i in dims)
            c = "0.0 + " + " + ".join(
                f"(g.g{i} * h.e{i} * (1 - h.e{i})) * h.m{i}"
                for i in dims)
            parts.append(
                f"gm{tag}_{L} AS MATERIALIZED (SELECT g.node_id, {gm}, "
                f"{c} AS c FROM {G} g JOIN {H} h "
                f"ON g.node_id = h.node_id)")
            keep = (", ".join(f"a.s{i}" for i in dims) + ", "
                    + ", ".join(f"a.q{i}" for i in dims) + ", "
                    + ", ".join(f"a.r{i}" for i in dims)
                    + ", a.alpha, "
                    + ", ".join(f"g.gm{i}" for i in dims))
            dotgs = "0.0 + " + " + ".join(f"g.gm{i} * a.s{i}"
                                          for i in dims)
            parts.append(
                f"eb{tag}_{L} AS MATERIALIZED (SELECT a.src, a.dst, "
                f"{keep}, a.alpha * (({dotgs}) - g.c) AS ge "
                f"FROM al{tag}_{L} a "
                f"JOIN gm{tag}_{L} g ON a.dst = g.node_id)")
            parts.append(
                f"ga{tag}_{L} AS MATERIALIZED (SELECT "
                + ", ".join(f"sum(ge * r{i}) AS ga{i}" for i in dims)
                + f" FROM eb{tag}_{L})")
            dq = {i: (f"e.ge * w.a{L}_{i} * (CASE WHEN e.q{i} > 0 "
                      f"THEN 1.0 ELSE 0.2 END)") for i in dims}
            parts.append(
                f"ds{tag}_{L} AS MATERIALIZED (SELECT e.src AS node_id, "
                + ", ".join(f"sum(e.alpha * e.gm{i} + {dq[i]}) AS d{i}"
                            for i in dims)
                + f" FROM eb{tag}_{L} e, {w} w GROUP BY e.src)")
            parts.append(
                f"dt{tag}_{L} AS MATERIALIZED (SELECT e.dst AS node_id, "
                + ", ".join(f"sum({dq[i]}) AS d{i}" for i in dims)
                + f" FROM eb{tag}_{L} e, {w} w GROUP BY e.dst)")
            nd = range(1, indims[L] + 1)
            parts.append(
                f"gwl{tag}_{L} AS MATERIALIZED (SELECT "
                + ", ".join(f"sum(d.d{r} * x.e{c}) AS g{r}{c}"
                            for r in dims for c in nd)
                + f" FROM ds{tag}_{L} d JOIN {emb_in} x "
                f"ON d.node_id = x.node_id)")
            parts.append(
                f"gwr{tag}_{L} AS MATERIALIZED (SELECT "
                + ", ".join(f"sum(d.d{r} * x.e{c}) AS g{r}{c}"
                            for r in dims for c in nd)
                + f" FROM dt{tag}_{L} d JOIN {emb_in} x "
                f"ON d.node_id = x.node_id)")
            if L > 0:
                chain = ", ".join(
                    "(0.0 + "
                    + " + ".join(f"COALESCE(d.d{o}, 0.0) * w.wl{L}_{o}{j}"
                                 for o in dims)
                    + ") + (0.0 + "
                    + " + ".join(f"COALESCE(e.d{o}, 0.0) * w.wr{L}_{o}{j}"
                                 for o in dims)
                    + f") AS g{j}" for j in dims)
                parts.append(
                    f"gch{tag}_{L} AS MATERIALIZED (SELECT "
                    f"COALESCE(d.node_id, e.node_id) AS node_id, {chain} "
                    f"FROM ds{tag}_{L} d FULL OUTER JOIN dt{tag}_{L} e "
                    f"ON d.node_id = e.node_id, {w} w)")
                G = f"gch{tag}_{L}"

    def update(g: int, tag: str) -> None:
        """w{g+1} = w{g} - lr · (Σg / n_batch) per cell (plain GD,
        the batch's own n — the per-BATCH step of the sampled loop)."""
        cols = []
        for L in range(layers):
            nd = range(1, indims[L] + 1)
            for r in dims:
                for c in nd:
                    cols.append(f"w.wl{L}_{r}{c} - {lit(lr)} * "
                                f"(gl{L}.g{r}{c} / s.n) AS wl{L}_{r}{c}")
                    cols.append(f"w.wr{L}_{r}{c} - {lit(lr)} * "
                                f"(gr{L}.g{r}{c} / s.n) AS wr{L}_{r}{c}")
            for i in dims:
                cols.append(f"w.a{L}_{i} - {lit(lr)} * "
                            f"(gal{L}.ga{i} / s.n) AS a{L}_{i}")
        cols.append(f"w.bb - {lit(lr)} * (s.gb / s.n) AS bb")
        froms = ", ".join(
            [f"w{g} w", f"stt{g} s"]
            + [f"gwl{tag}_{L} gl{L}" for L in range(layers)]
            + [f"gwr{tag}_{L} gr{L}" for L in range(layers)]
            + [f"ga{tag}_{L} gal{L}" for L in range(layers)])
        parts.append(f"w{g + 1} AS MATERIALIZED (SELECT "
                     + ", ".join(cols) + f" FROM {froms})")

    return forward, decode, backward, update


def _gat_stack_train_q_sql(hidden: int = 2, d_in: int = 2,
                           layers: int = 2, epochs: int = 2,
                           lr: float = 0.05, val_frac: float = 0.2,
                           seed: int = 42,
                           probe: str | None = None) -> str:
    """Twin of queries.q_gat_stack_train_q — DuckDB RETRAINS the
    2-layer homogeneous GATv2 stack (VERDICT r8 item 4: real
    multi-layer BACKPROP under the cross-engine gate):

      * the same graph re-derived from raw parquet: bucketed scalable
        customer ids, ring (i → (i+1) mod n) + self loops, max-abs
        scaled (c_acctbal, degree) features, stride-pair labels,
        md5-draw 0.8 split;
      * per weight state w_t, ONE quantized forward (both layers:
        round(exp(e-max), 6) + DECIMAL softmax sums, round(α·s, 6) +
        DECIMAL message sums, round(sigmoid, 6) outputs — the
        attention_layer quantize=True contract), shared between epoch
        t's train stats and epoch t-1's val stats;
      * per epoch, the FULL backprop as CTE algebra mirroring
        ml/gat_train.py::_backward_layer_frames: decoder grads
        G = Σ err·h_other, sigmoid chain gm = g·h·(1-h), the softmax
        Jacobian ge = α·(gm·s − gm·m), the LeakyReLU gate on
        dq = ge·a·(q>0 ? 1 : 0.2), per-node ds/dt sums, the outer-
        product weight gradients, and the Wlᵀ·ds + Wrᵀ·dt chain into
        layer 1;
      * the plain-GD update w ← w − lr·(Σg/n) per cell.

    Gradient sums are NOT quantized on either side — the history is
    the integer-derived accuracy timeline (train acc at pre-step
    weights, val acc at post-step weights), which last-ulp gradient
    divergence cannot flip off measure-zero boundaries (the
    link_pred_train convention). Initial weights re-drawn with the
    identical numpy default_rng sequence, inlined as literals."""
    # --- graph, features, labels, split (engine derivations,
    # shared with the sibling twin) ----------------------------------
    parts: list = _gat_ring_setup_parts(val_frac, seed)
    # --- initial weights as one literal row --------------------------
    parts.append(_gat_stack_w0_part(seed, hidden, d_in, layers))

    forward, decode, backward, update = _gat_stack_emitters(
        parts, hidden, d_in, layers, lr)

    forward("0", "w0", "edges", "emb0", None)
    for t in range(epochs):
        decode(str(t), "tr", f"w{t}", f"t{t}")  # train stats, pre-step
        backward(str(t), f"w{t}", f"sct{t}", "emb0")
        update(t, str(t))
        forward(str(t + 1), f"w{t + 1}", "edges", "emb0", None)
        decode(str(t + 1), "vl", f"w{t + 1}", f"v{t}")  # val stats, post-step
    finals = [
        f"SELECT CAST({t} AS INTEGER) AS epoch, "
        f"CAST(stt{t}.correct AS DOUBLE) / stt{t}.n AS train_acc, "
        f"CAST(stv{t}.correct AS DOUBLE) / stv{t}.n AS val_acc "
        f"FROM stt{t}, stv{t}" for t in range(epochs)]
    if probe:                               # debugging aid, not an oracle
        finals = [probe]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


GAT_STACK_TRAIN_Q = _gat_stack_train_q_sql(epochs=3, lr=0.5)


def _gat_stack_train_sampled_q_sql(hidden: int = 2, d_in: int = 2,
                                   layers: int = 2, epochs: int = 2,
                                   steps: int = 2, batch_size: int = 128,
                                   fanouts: tuple = (1, 1),
                                   lr: float = 0.5, val_frac: float = 0.2,
                                   seed: int = 42,
                                   probe: str | None = None) -> str:
    """Twin of queries.q_gat_stack_train_sampled_q — DuckDB RETRAINS
    the 2-layer GATv2 stack through the MINI-BATCH sampled loop
    (the tier left after round 8/9 put the forward, inference, scorer
    training, and full-batch multi-layer backprop under the gate):

      * the same ring+self-loop customer graph, features, stride
        labels, and md5 0.8 split as _gat_stack_train_q_sql;
      * batch COUNT from the data (ceil(|train| / batch_size), the
        trainer's own formula) and per-epoch batch MEMBERSHIP as the
        md5 first-8-hex-chars parse mod n_batches — the trainer's
        batch_draw='md5' convention;
      * per gradient step, the batch's 2-hop sampled in-edge closure
        replayed draw-for-draw: row_number over md5(dst:src:seed+hop)
        per dst (sample_neighbors' reversed-orientation md5 key,
        tie-broken on src) capped at the hop fanout, frontier = the
        previous hop's sampled srcs;
      * the quantized forward over the sampled edge set, emitting
        ZERO-vector embeddings for closure nodes without sampled
        in-edges (the attention_layer coalesce convention — leaf nodes
        feed s = W·0 into the next layer, exactly like Spark);
      * the full backprop restricted to the batch + sampled edges and
        a plain-GD update per BATCH (w advances inside the epoch);
      * after each epoch, validation decoded from a FULL-graph forward
        — value-identical to the trainer's val-closure forward (the
        documented exactness: val endpoints' k-hop dependency cones
        are complete in both).

    Output per epoch: (epoch, train_n, val_acc) — train_n is the
    summed batch sizes (integer: checks membership), val_acc is
    correct/n on the post-epoch weights (integer-derived: checks the
    whole sampled loop; last-ulp gradient drift cannot flip it off
    measure-zero boundaries). Assumes every replayed batch is
    non-empty (the trainer SKIPS empty batches; with the fixed
    testdata and ~batch_size·steps ≪ |train| this never triggers —
    the pytest pin runs both engines on the real tables)."""
    # --- graph, features, labels, split (same derivations as the
    # full-batch twin — shared prelude) -------------------------------
    parts: list = _gat_ring_setup_parts(val_frac, seed)
    # the trainer's own batch-count formula, from the data
    parts.append("nb AS (SELECT greatest(CAST(ceil(count(*) / "
                 f"{float(batch_size)}) AS BIGINT), 1) AS nb FROM tr)")

    # --- initial weights as one literal row (same rng sequence) ------
    parts.append(_gat_stack_w0_part(seed, hidden, d_in, layers))

    sig = SIGMOID

    forward, decode, backward, update = _gat_stack_emitters(
        parts, hidden, d_in, layers, lr)

    for t in range(epochs):
        # per-epoch md5 batch membership over the train split
        parts.append(
            f"mb{t} AS MATERIALIZED (SELECT src, dst, label, "
            f"({_hex32_sql(_edge_draw_sql(str(seed + t)))} % b.nb) AS bi "
            "FROM tr, nb b)")
        for k in range(steps):
            g = t * steps + k
            bseed = seed + 7919 * t + 104729 * k
            parts.append(f"bx{g} AS MATERIALIZED (SELECT src, dst, label "
                         f"FROM mb{t} WHERE bi = {k})")
            parts.append(f"sd{g} AS MATERIALIZED ("
                         f"SELECT src AS node_id FROM bx{g} "
                         f"UNION SELECT dst FROM bx{g})")
            hop_names = []
            for j, f in enumerate(fanouts):
                fr = f"sd{g}" if j == 0 else f"fr{g}_{j}"
                if j > 0:
                    parts.append(
                        f"fr{g}_{j} AS (SELECT DISTINCT src AS node_id "
                        f"FROM hp{g}_{j - 1})")
                # sample_neighbors over the REVERSED graph: partition by
                # the message target (orig dst), md5(dst:src:seed+hop)
                # rank key, src tie-break, ≤ fanout
                parts.append(
                    f"hp{g}_{j} AS MATERIALIZED (SELECT src, dst FROM ("
                    f"SELECT e.src, e.dst, row_number() OVER ("
                    f"PARTITION BY e.dst ORDER BY "
                    f"md5(CAST(e.dst AS VARCHAR) || ':' || "
                    f"CAST(e.src AS VARCHAR) || ':{bseed + j}'), e.src) "
                    f"AS rk FROM edges e JOIN {fr} f "
                    f"ON e.dst = f.node_id) WHERE rk <= {int(f)})")
                hop_names.append(f"hp{g}_{j}")
            parts.append(
                f"sub{g} AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
                + " UNION ALL ".join(f"SELECT src, dst FROM {h}"
                                     for h in hop_names) + "))")
            parts.append(
                f"cl{g} AS MATERIALIZED (SELECT node_id FROM sd{g} "
                f"UNION SELECT src FROM sub{g} "
                f"UNION SELECT dst FROM sub{g})")
            ecols = ", ".join(f"e.e{c}" for c in range(1, d_in + 1))
            parts.append(f"em{g} AS MATERIALIZED (SELECT e.node_id, "
                         f"{ecols} FROM emb0 e JOIN cl{g} c "
                         f"ON e.node_id = c.node_id)")
            forward(f"b{g}", f"w{g}", f"sub{g}", f"em{g}",
                    closure=f"cl{g}")
            decode(f"b{g}", f"bx{g}", f"w{g}", f"t{g}")
            backward(f"b{g}", f"w{g}", f"sct{g}", f"em{g}")
            update(g, f"b{g}")
        # post-epoch validation: full-graph forward (value-identical to
        # the trainer's once-computed val closure at the val endpoints)
        gend = (t + 1) * steps
        forward(f"v{t}", f"w{gend}", "edges", "emb0", closure=None)
        decode(f"v{t}", "vl", f"w{gend}", f"v{t}")
    finals = [
        f"SELECT CAST({t} AS INTEGER) AS epoch, CAST("
        + " + ".join(f"stt{t * steps + k}.n" for k in range(steps))
        + f" AS BIGINT) AS train_n, "
        f"CAST(stv{t}.correct AS DOUBLE) / stv{t}.n AS val_acc FROM "
        + ", ".join([f"stt{t * steps + k}" for k in range(steps)]
                    + [f"stv{t}"])
        for t in range(epochs)]
    if probe:                               # debugging aid, not an oracle
        finals = [probe]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


GAT_STACK_TRAIN_SAMPLED_Q = _gat_stack_train_sampled_q_sql()


def _hetero_link_train_sampled_q_sql(hidden: int = 2, epochs: int = 2,
                                     steps: int = 2, batch_size: int = 512,
                                     fanout: int = 1, lr: float = 0.5,
                                     val_frac: float = 0.2, seed: int = 42,
                                     probe: str | None = None) -> str:
    """Twin of queries.q_hetero_link_train_sampled_q — DuckDB RETRAINS
    the FLAGSHIP heterogeneous sampled mini-batch trainer (round 10,
    the last rows-only tier; reference T:72-80 + dataloader.py:24-51):

      * scalable dense ids for orders/customer, FULL-graph degrees
        (every _HF_FWD edge type touching the two tables, +1), max-abs
        scaled (numeric, degree) features — the build_graph /
        node_features_normalized derivations;
      * the orders↔customer message graph: hasCust (EDGES_FK
        semantics), its REVERSE_, both SELF_LOOPs;
      * md5 negative sampling (NEGATIVE_SAMPLE recipe over dense ids),
        md5 0.8 split, batch count from the data, md5 per-epoch batch
        membership — the trainer's draw conventions;
      * per gradient step: every edge type's md5 in-edge draw replayed
        (row_number per dst over md5(dst:src:etseed), src tie-break,
        ≤ fanout; etseed = the REVERSED-tuple _edge_type_seed of the
        batch seed), the 6-dp QUANTIZED hetero forward over the
        sampled edges (round(sigmoid,6) input projections,
        round(exp(e-max),6) + DECIMAL softmax sums, round(α·s,6) +
        DECIMAL message sums, round(sigmoid,6) combine — closure nodes
        without sampled in-edges get σ(W_self·h0), the piv-left-join
        convention, NOT the stack's zero vectors), the full hetero
        backprop (decoder → sigmoid chain → per-edge-type softmax
        Jacobian → LeakyReLU gate → W_selfᵀ/W_lᵀ/W_rᵀ chain into h0 →
        W0 outer products) and a plain-GD step on EVERY parameter
        (W0/W_self per type, W_l/W_r/a per edge type, bias), missing
        gradient cells coalesced to 0 (the engine's zeros default);
      * post-epoch validation from a full-graph forward (value-
        identical to the trainer's once-computed val closure).

    Output per epoch: (epoch, train_n, val_acc) — integer-derived, so
    gradient-sum last-ulp divergence cannot flip it off measure-zero
    boundaries. Assumes n_batches ≥ steps and non-empty replayed
    batches (the trainer skips empty ones); tests/test_gat_train.py
    asserts both on the real tables so a data change fails loudly."""
    import hashlib

    import numpy as np

    tps = ["customer", "orders"]                     # sorted(feats)
    tl = {"customer": "c", "orders": "o"}
    pk = {"customer": "c_custkey", "orders": "o_orderkey"}
    numf = {"customer": "c_acctbal", "orders": "o_totalprice"}
    edge_types = sorted([
        ("customer", "REVERSE_hasCust", "orders"),
        ("customer", "SELF_LOOP", "customer"),
        ("orders", "SELF_LOOP", "orders"),
        ("orders", "hasCust", "customer"),
    ])
    src_type, dst_type = "orders", "customer"
    d_in = 2
    dims = range(1, hidden + 1)
    nd = range(1, d_in + 1)

    # initial weights: the trainer's exact default_rng(seed) sequence
    rng = np.random.default_rng(seed)
    W0 = {t: rng.normal(0, 0.5, size=(hidden, d_in)) for t in tps}
    Wself = {t: rng.normal(0, 0.5, size=(hidden, hidden)) for t in tps}
    attn = {et: (rng.normal(0, 0.5, size=(hidden, hidden)),
                 rng.normal(0, 0.5, size=(hidden, hidden)),
                 rng.normal(0, 0.5, size=hidden)) for et in edge_types}

    def lit(v: float) -> str:
        return repr(float(v))

    def etseed(bseed: int, et: tuple) -> int:
        # sample_incoming_hetero samples over the REVERSED graph, so
        # _edge_type_seed keys on the reversed tuple
        s, rel, d = et
        tag = f"{d}|{rel}|{s}".encode()
        return bseed + int.from_bytes(hashlib.md5(tag).digest()[:4], "big")

    sig = SIGMOID
    parts: list = []

    # ---- ids, degrees, features, message edges ----------------------
    parts.append("oid AS MATERIALIZED ("
                 + ids_scalable_cte("orders", "o_orderkey") + ")")
    parts.append("cid AS MATERIALIZED ("
                 + ids_scalable_cte("customer", "c_custkey") + ")")
    fwd_needed = [et for et in _HF_FWD
                  if et[0] in tps or et[2] in tps]
    fkey = {et: f"{et[0]}_{et[1]}_{et[2]}".lower() for et in fwd_needed}
    for et in fwd_needed:
        parts.append(f"dg_{fkey[et]} AS MATERIALIZED ({_HF_FWD[et]})")
    for t in tps:
        ends = [f"SELECT src_pk AS pk FROM dg_{fkey[et]}"
                for et in fwd_needed if et[0] == t]
        ends += [f"SELECT dst_pk AS pk FROM dg_{fkey[et]}"
                 for et in fwd_needed if et[2] == t]
        cnt = " UNION ALL ".join(ends)
        parts.append(
            f"deg_{tl[t]} AS (SELECT b.{pk[t]} AS pk, "
            f"CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE) AS degree "
            f"FROM {t} b LEFT JOIN (SELECT pk, count(*) AS cnt "
            f"FROM ({cnt}) GROUP BY pk) c ON b.{pk[t]} = c.pk)")
        parts.append(
            f"nf_{tl[t]} AS (SELECT b.{pk[t]} AS pk, "
            f"CAST(b.{numf[t]} AS DOUBLE) AS f1, d.degree AS f2 "
            f"FROM {t} b JOIN deg_{tl[t]} d ON b.{pk[t]} = d.pk)")
        parts.append(
            f"mx_{tl[t]} AS (SELECT greatest(max(abs(f1)), 1e-12) AS m1, "
            f"greatest(max(abs(f2)), 1e-12) AS m2 FROM nf_{tl[t]})")
        idc = "oid" if t == "orders" else "cid"
        parts.append(
            f"x{tl[t]} AS MATERIALIZED (SELECT i.node_id, "
            f"n.f1 / m.m1 AS f1, n.f2 / m.m2 AS f2 "
            f"FROM nf_{tl[t]} n JOIN {idc} i ON n.pk = i.pk, "
            f"mx_{tl[t]} m)")
    parts.append(
        "efwd AS MATERIALIZED (SELECT o.node_id AS src, c.node_id AS dst "
        "FROM orders JOIN oid o ON o_orderkey = o.pk "
        "JOIN cid c ON o_custkey = c.pk "
        "WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL)")
    ecte = {
        ("orders", "hasCust", "customer"): "efwd",
        ("customer", "REVERSE_hasCust", "orders"): "erev",
        ("customer", "SELF_LOOP", "customer"): "eslc",
        ("orders", "SELF_LOOP", "orders"): "eslo",
    }
    parts.append("erev AS (SELECT dst AS src, src AS dst FROM efwd)")
    parts.append("eslc AS (SELECT node_id AS src, node_id AS dst FROM cid)")
    parts.append("eslo AS (SELECT node_id AS src, node_id AS dst FROM oid)")

    # ---- labeled examples (md5 negatives), split, batch count -------
    parts.append("ncust AS (SELECT count(*) AS n FROM cid)")
    parts.append(
        "ex0 AS (SELECT src, dst, CAST(1 AS INTEGER) AS label FROM efwd "
        "UNION ALL "
        "SELECT g.src, g.dst, g.label FROM ("
        f"SELECT src, CAST({_hex32_sql(_edge_draw_sql(f'0:{seed}'))} "
        "% n.n AS BIGINT) AS dst, CAST(0 AS INTEGER) AS label "
        "FROM efwd, ncust n) g "
        "WHERE NOT EXISTS (SELECT 1 FROM efwd e "
        "WHERE e.src = g.src AND e.dst = g.dst))")
    cut = lit(1.0 - val_frac)
    parts.append(
        "exs AS MATERIALIZED (SELECT src, dst, label, "
        f"({_hex32_sql(_edge_draw_sql(str(seed)))} / 4294967296.0) AS u "
        "FROM ex0)")
    parts.append("tr AS MATERIALIZED (SELECT src, dst, label FROM exs "
                 f"WHERE u < CAST({cut} AS DOUBLE))")
    parts.append("vl AS MATERIALIZED (SELECT src, dst, label FROM exs "
                 f"WHERE NOT (u < CAST({cut} AS DOUBLE)))")
    parts.append("nb AS (SELECT greatest(CAST(ceil(count(*) / "
                 f"{float(batch_size)}) AS BIGINT), 1) AS nb FROM tr)")

    # ---- initial weights as one literal row --------------------------
    wcols = []
    for ti, t in enumerate(tps):
        for r in dims:
            for c in nd:
                wcols.append(f"{lit(W0[t][r - 1][c - 1])} AS w0{ti}_{r}{c}")
        for r in dims:
            for c in dims:
                wcols.append(f"{lit(Wself[t][r - 1][c - 1])} AS ws{ti}_{r}{c}")
    for ei, et in enumerate(edge_types):
        Wl, Wr, a = attn[et]
        for r in dims:
            for c in dims:
                wcols.append(f"{lit(Wl[r - 1][c - 1])} AS wl{ei}_{r}{c}")
                wcols.append(f"{lit(Wr[r - 1][c - 1])} AS wr{ei}_{r}{c}")
        for i in dims:
            wcols.append(f"{lit(a[i - 1])} AS aa{ei}_{i}")
    wcols.append("0.0 AS bb")
    parts.append("w0w AS (SELECT " + ", ".join(wcols) + ")")

    tidx = {t: ti for ti, t in enumerate(tps)}

    def forward(tag: str, w: str, edges_of: dict, closure_of: dict) -> None:
        """Quantized hetero forward → h0{tag}_{ti} / ms{tag}_{ei} /
        h1{tag}_{ti}. ``edges_of``: et → edge CTE; ``closure_of``:
        type → node-set CTE (full graph: oid/cid)."""
        for t in tps:
            ti = tidx[t]
            es = []
            for i in dims:
                z = ("0.0 + " + " + ".join(
                    f"x.f{c} * w.w0{ti}_{i}{c}" for c in nd))
                es.append(f"round({sig.format(z=z)}, 6) AS e{i}")
            parts.append(
                f"h0{tag}_{ti} AS MATERIALIZED (SELECT c.node_id, "
                + ", ".join(es)
                + f" FROM {closure_of[t]} c "
                f"JOIN x{tl[t]} x ON c.node_id = x.node_id, {w} w)")
        for ei, et in enumerate(edge_types):
            si, di = tidx[et[0]], tidx[et[2]]
            sp = ", ".join(
                "0.0 + " + " + ".join(f"h.e{c} * w.wl{ei}_{r}{c}"
                                      for c in dims) + f" AS s{r}"
                for r in dims)
            tp = ", ".join(
                "0.0 + " + " + ".join(f"h.e{c} * w.wr{ei}_{r}{c}"
                                      for c in dims) + f" AS t{r}"
                for r in dims)
            parts.append(f"sp{tag}_{ei} AS (SELECT h.node_id, {sp} "
                         f"FROM h0{tag}_{si} h, {w} w)")
            parts.append(f"tp{tag}_{ei} AS (SELECT h.node_id, {tp} "
                         f"FROM h0{tag}_{di} h, {w} w)")
            qs = ", ".join(f"sp.s{i} + tp.t{i} AS q{i}" for i in dims)
            rs = ", ".join(
                f"(CASE WHEN (sp.s{i} + tp.t{i}) > 0 "
                f"THEN (sp.s{i} + tp.t{i}) "
                f"ELSE (sp.s{i} + tp.t{i}) * 0.2 END) AS r{i}"
                for i in dims)
            ss = ", ".join(f"sp.s{i}" for i in dims)
            ee = "0.0 + " + " + ".join(
                f"(CASE WHEN (sp.s{i} + tp.t{i}) > 0 "
                f"THEN (sp.s{i} + tp.t{i}) "
                f"ELSE (sp.s{i} + tp.t{i}) * 0.2 END) * w.aa{ei}_{i}"
                for i in dims)
            parts.append(
                f"ef{tag}_{ei} AS MATERIALIZED (SELECT e.src, e.dst, "
                f"{ss}, {qs}, {rs}, {ee} AS ee "
                f"FROM {edges_of[et]} e "
                f"JOIN sp{tag}_{ei} sp ON e.src = sp.node_id "
                f"JOIN tp{tag}_{ei} tp ON e.dst = tp.node_id, {w} w)")
            parts.append(f"mxe{tag}_{ei} AS (SELECT dst, max(ee) AS m "
                         f"FROM ef{tag}_{ei} GROUP BY dst)")
            keep = (", ".join(f"f.s{i}" for i in dims) + ", "
                    + ", ".join(f"f.q{i}" for i in dims) + ", "
                    + ", ".join(f"f.r{i}" for i in dims))
            parts.append(
                f"aw{tag}_{ei} AS MATERIALIZED (SELECT f.src, f.dst, "
                f"{keep}, round(exp(f.ee - m.m), 6) AS wq "
                f"FROM ef{tag}_{ei} f JOIN mxe{tag}_{ei} m "
                f"ON f.dst = m.dst)")
            parts.append(
                f"z{tag}_{ei} AS (SELECT dst, "
                f"CAST(sum(CAST(wq AS DECIMAL(27,6))) AS DOUBLE) AS z "
                f"FROM aw{tag}_{ei} GROUP BY dst)")
            parts.append(
                f"al{tag}_{ei} AS MATERIALIZED (SELECT a.*, a.wq / z.z "
                f"AS alpha FROM aw{tag}_{ei} a JOIN z{tag}_{ei} z "
                f"ON a.dst = z.dst)")
            ms = ", ".join(
                f"CAST(sum(CAST(round(alpha * s{i}, 6) "
                f"AS DECIMAL(27,6))) AS DOUBLE) AS m{i}" for i in dims)
            parts.append(f"ms{tag}_{ei} AS MATERIALIZED "
                         f"(SELECT dst AS node_id, {ms} "
                         f"FROM al{tag}_{ei} GROUP BY dst)")
        for t in tps:
            ti = tidx[t]
            incoming = [ei for ei, et in enumerate(edge_types)
                        if et[2] == t]
            joins = "".join(
                f" LEFT JOIN ms{tag}_{ei} g{gi} "
                f"ON h.node_id = g{gi}.node_id"
                for gi, ei in enumerate(incoming))
            es = []
            for i in dims:
                z = ("(0.0 + " + " + ".join(
                    f"h.e{c} * w.ws{ti}_{i}{c}" for c in dims) + ")")
                for gi in range(len(incoming)):
                    z = f"{z} + COALESCE(g{gi}.m{i}, 0.0)"
                es.append(f"round({sig.format(z=z)}, 6) AS e{i}")
            parts.append(
                f"h1{tag}_{ti} AS MATERIALIZED (SELECT h.node_id, "
                + ", ".join(es)
                + f" FROM h0{tag}_{ti} h{joins}, {w} w)")

    def decode(tag: str, exset: str, w: str, name: str) -> None:
        si, di = tidx[src_type], tidx[dst_type]
        hu = ", ".join(f"hu.e{i} AS hu{i}" for i in dims)
        hv = ", ".join(f"hv.e{i} AS hv{i}" for i in dims)
        zc = ("(0.0 + "
              + " + ".join(f"hu.e{i} * hv.e{i}" for i in dims)
              + ") + w.bb")
        parts.append(
            f"sc{name} AS MATERIALIZED (SELECT s.src, s.dst, s.label, "
            f"{hu}, {hv}, "
            f"{sig.format(z=f'greatest(least({zc}, 30.0), -30.0)')} AS p "
            f"FROM {exset} s JOIN h1{tag}_{si} hu ON s.src = hu.node_id "
            f"JOIN h1{tag}_{di} hv ON s.dst = hv.node_id, {w} w)")
        parts.append(
            f"st{name} AS MATERIALIZED (SELECT count(*) AS n, "
            f"sum(CAST(CAST(p > 0.5 AS INT) = label AS BIGINT)) "
            f"AS correct, sum(p - CAST(label AS DOUBLE)) AS gb "
            f"FROM sc{name})")

    def backward(tag: str, w: str, sc: str) -> None:
        gs = ", ".join(f"sum(g{i}) AS g{i}" for i in dims)
        u_src = ", ".join(
            f"(s.p - CAST(s.label AS DOUBLE)) * s.hv{i} AS g{i}"
            for i in dims)
        u_dst = ", ".join(
            f"(s.p - CAST(s.label AS DOUBLE)) * s.hu{i} AS g{i}"
            for i in dims)
        si, di = tidx[src_type], tidx[dst_type]
        parts.append(f"gt{tag}_{si} AS (SELECT node_id, {gs} FROM ("
                     f"SELECT s.src AS node_id, {u_src} FROM {sc} s) "
                     f"GROUP BY node_id)")
        parts.append(f"gt{tag}_{di} AS (SELECT node_id, {gs} FROM ("
                     f"SELECT s.dst AS node_id, {u_dst} FROM {sc} s) "
                     f"GROUP BY node_id)")
        for t in tps:
            ti = tidx[t]
            gm = ", ".join(
                f"g.g{i} * h.e{i} * (1 - h.e{i}) AS g{i}" for i in dims)
            parts.append(
                f"gp{tag}_{ti} AS MATERIALIZED (SELECT g.node_id, {gm} "
                f"FROM gt{tag}_{ti} g JOIN h1{tag}_{ti} h "
                f"ON g.node_id = h.node_id)")
            parts.append(
                f"gws{tag}_{ti} AS (SELECT "
                + ", ".join(f"sum(d.g{r} * h.e{c}) AS g{r}{c}"
                            for r in dims for c in dims)
                + f" FROM gp{tag}_{ti} d JOIN h0{tag}_{ti} h "
                f"ON d.node_id = h.node_id)")
        for ei, et in enumerate(edge_types):
            si, di = tidx[et[0]], tidx[et[2]]
            c = "0.0 + " + " + ".join(f"g.g{i} * m.m{i}" for i in dims)
            parts.append(
                f"gmc{tag}_{ei} AS (SELECT g.node_id AS dst, "
                + ", ".join(f"g.g{i} AS gm{i}" for i in dims)
                + f", {c} AS c FROM gp{tag}_{di} g "
                f"JOIN ms{tag}_{ei} m ON g.node_id = m.node_id)")
            keep = (", ".join(f"a.s{i}" for i in dims) + ", "
                    + ", ".join(f"a.q{i}" for i in dims) + ", "
                    + ", ".join(f"a.r{i}" for i in dims) + ", a.alpha, "
                    + ", ".join(f"g.gm{i}" for i in dims))
            dotgs = "0.0 + " + " + ".join(f"g.gm{i} * a.s{i}"
                                          for i in dims)
            parts.append(
                f"eb{tag}_{ei} AS MATERIALIZED (SELECT a.src, a.dst, "
                f"{keep}, a.alpha * (({dotgs}) - g.c) AS ge "
                f"FROM al{tag}_{ei} a "
                f"JOIN gmc{tag}_{ei} g ON a.dst = g.dst)")
            parts.append(
                f"ga{tag}_{ei} AS (SELECT "
                + ", ".join(f"sum(ge * r{i}) AS ga{i}" for i in dims)
                + f" FROM eb{tag}_{ei})")
            dq = {i: (f"e.ge * w.aa{ei}_{i} * (CASE WHEN e.q{i} > 0 "
                      f"THEN 1.0 ELSE 0.2 END)") for i in dims}
            parts.append(
                f"ds{tag}_{ei} AS MATERIALIZED (SELECT e.src AS node_id, "
                + ", ".join(f"sum(e.alpha * e.gm{i} + {dq[i]}) AS d{i}"
                            for i in dims)
                + f" FROM eb{tag}_{ei} e, {w} w GROUP BY e.src)")
            parts.append(
                f"dt{tag}_{ei} AS MATERIALIZED (SELECT e.dst AS node_id, "
                + ", ".join(f"sum({dq[i]}) AS d{i}" for i in dims)
                + f" FROM eb{tag}_{ei} e, {w} w GROUP BY e.dst)")
            parts.append(
                f"gwl{tag}_{ei} AS (SELECT "
                + ", ".join(f"sum(d.d{r} * h.e{c}) AS g{r}{c}"
                            for r in dims for c in dims)
                + f" FROM ds{tag}_{ei} d JOIN h0{tag}_{si} h "
                f"ON d.node_id = h.node_id)")
            parts.append(
                f"gwr{tag}_{ei} AS (SELECT "
                + ", ".join(f"sum(d.d{r} * h.e{c}) AS g{r}{c}"
                            for r in dims for c in dims)
                + f" FROM dt{tag}_{ei} d JOIN h0{tag}_{di} h "
                f"ON d.node_id = h.node_id)")
        for t in tps:
            ti = tidx[t]
            srcs = [
                "SELECT d.node_id, "
                + ", ".join(
                    "0.0 + " + " + ".join(
                        f"d.g{o} * w.ws{ti}_{o}{j}" for o in dims)
                    + f" AS g{j}" for j in dims)
                + f" FROM gp{tag}_{ti} d, {w} w"]
            for ei, et in enumerate(edge_types):
                if et[0] == t:
                    srcs.append(
                        "SELECT d.node_id, "
                        + ", ".join(
                            "0.0 + " + " + ".join(
                                f"d.d{o} * w.wl{ei}_{o}{j}" for o in dims)
                            + f" AS g{j}" for j in dims)
                        + f" FROM ds{tag}_{ei} d, {w} w")
                if et[2] == t:
                    srcs.append(
                        "SELECT d.node_id, "
                        + ", ".join(
                            "0.0 + " + " + ".join(
                                f"d.d{o} * w.wr{ei}_{o}{j}" for o in dims)
                            + f" AS g{j}" for j in dims)
                        + f" FROM dt{tag}_{ei} d, {w} w")
            parts.append(
                f"gh0{tag}_{ti} AS MATERIALIZED (SELECT node_id, "
                + ", ".join(f"sum(g{j}) AS g{j}" for j in dims)
                + " FROM (" + " UNION ALL ".join(srcs)
                + ") GROUP BY node_id)")
            parts.append(
                f"gm0{tag}_{ti} AS (SELECT g.node_id, "
                + ", ".join(
                    f"g.g{i} * h.e{i} * (1 - h.e{i}) AS d{i}"
                    for i in dims)
                + f" FROM gh0{tag}_{ti} g JOIN h0{tag}_{ti} h "
                f"ON g.node_id = h.node_id)")
            parts.append(
                f"gw0{tag}_{ti} AS (SELECT "
                + ", ".join(f"sum(d.d{r} * x.f{c}) AS g{r}{c}"
                            for r in dims for c in nd)
                + f" FROM gm0{tag}_{ti} d JOIN x{tl[t]} x "
                f"ON d.node_id = x.node_id)")

    def update(g: int, tag: str) -> None:
        """w{g+1} = w{g} − lr·(COALESCE(Σg,0)/n) per cell — the plain
        per-batch GD step; a parameter untouched by the batch keeps a
        zero gradient (the engine's zeros default)."""
        cols = []
        for ti, _t in enumerate(tps):
            for r in dims:
                for c in nd:
                    cols.append(
                        f"w.w0{ti}_{r}{c} - {lit(lr)} * "
                        f"(COALESCE(g0{ti}.g{r}{c}, 0.0) / s.n) "
                        f"AS w0{ti}_{r}{c}")
            for r in dims:
                for c in dims:
                    cols.append(
                        f"w.ws{ti}_{r}{c} - {lit(lr)} * "
                        f"(COALESCE(gs{ti}.g{r}{c}, 0.0) / s.n) "
                        f"AS ws{ti}_{r}{c}")
        for ei in range(len(edge_types)):
            for r in dims:
                for c in dims:
                    cols.append(
                        f"w.wl{ei}_{r}{c} - {lit(lr)} * "
                        f"(COALESCE(gl{ei}.g{r}{c}, 0.0) / s.n) "
                        f"AS wl{ei}_{r}{c}")
                    cols.append(
                        f"w.wr{ei}_{r}{c} - {lit(lr)} * "
                        f"(COALESCE(gr{ei}.g{r}{c}, 0.0) / s.n) "
                        f"AS wr{ei}_{r}{c}")
            for i in dims:
                cols.append(
                    f"w.aa{ei}_{i} - {lit(lr)} * "
                    f"(COALESCE(gal{ei}.ga{i}, 0.0) / s.n) AS aa{ei}_{i}")
        cols.append(f"w.bb - {lit(lr)} * (s.gb / s.n) AS bb")
        froms = ", ".join(
            [f"w{g}w w", f"stt{g} s"]
            + [f"gw0{tag}_{ti} g0{ti}" for ti in range(len(tps))]
            + [f"gws{tag}_{ti} gs{ti}" for ti in range(len(tps))]
            + [f"gwl{tag}_{ei} gl{ei}" for ei in range(len(edge_types))]
            + [f"gwr{tag}_{ei} gr{ei}" for ei in range(len(edge_types))]
            + [f"ga{tag}_{ei} gal{ei}" for ei in range(len(edge_types))])
        parts.append(f"w{g + 1}w AS MATERIALIZED (SELECT "
                     + ", ".join(cols) + f" FROM {froms})")

    full_edges = {et: ecte[et] for et in edge_types}
    full_closure = {"customer": "cid", "orders": "oid"}

    for t in range(epochs):
        parts.append(
            f"mb{t} AS MATERIALIZED (SELECT src, dst, label, "
            f"({_hex32_sql(_edge_draw_sql(str(seed + t)))} % b.nb) AS bi "
            "FROM tr, nb b)")
        for k in range(steps):
            g = t * steps + k
            bseed = seed + 7919 * t + 104729 * k
            parts.append(f"bx{g} AS MATERIALIZED (SELECT src, dst, label "
                         f"FROM mb{t} WHERE bi = {k})")
            # per-type seeds (orders = example srcs, customer = dsts)
            parts.append(f"sd{g}_{tidx['orders']} AS "
                         f"(SELECT DISTINCT src AS node_id FROM bx{g})")
            parts.append(f"sd{g}_{tidx['customer']} AS "
                         f"(SELECT DISTINCT dst AS node_id FROM bx{g})")
            for ei, et in enumerate(edge_types):
                di = tidx[et[2]]
                es = etseed(bseed, et)
                parts.append(
                    f"hp{g}_{ei} AS MATERIALIZED (SELECT src, dst FROM ("
                    f"SELECT e.src, e.dst, row_number() OVER ("
                    f"PARTITION BY e.dst ORDER BY "
                    f"md5(CAST(e.dst AS VARCHAR) || ':' || "
                    f"CAST(e.src AS VARCHAR) || ':{es}'), e.src) AS rk "
                    f"FROM {ecte[et]} e JOIN sd{g}_{di} f "
                    f"ON e.dst = f.node_id) WHERE rk <= {int(fanout)})")
            for t2 in tps:
                ti = tidx[t2]
                mem = [f"SELECT node_id FROM sd{g}_{ti}"]
                for ei, et in enumerate(edge_types):
                    if et[0] == t2:
                        mem.append(f"SELECT src FROM hp{g}_{ei}")
                    if et[2] == t2:
                        mem.append(f"SELECT dst FROM hp{g}_{ei}")
                parts.append(f"cl{g}_{ti} AS MATERIALIZED ("
                             + " UNION ".join(mem) + ")")
            forward(f"b{g}", f"w{g}w",
                    {et: f"hp{g}_{ei}"
                     for ei, et in enumerate(edge_types)},
                    {t2: f"cl{g}_{tidx[t2]}" for t2 in tps})
            decode(f"b{g}", f"bx{g}", f"w{g}w", f"t{g}")
            backward(f"b{g}", f"w{g}w", f"sct{g}")
            update(g, f"b{g}")
        gend = (t + 1) * steps
        forward(f"v{t}", f"w{gend}w", full_edges, full_closure)
        decode(f"v{t}", "vl", f"w{gend}w", f"v{t}")
    finals = [
        f"SELECT CAST({t} AS INTEGER) AS epoch, CAST("
        + " + ".join(f"stt{t * steps + k}.n" for k in range(steps))
        + f" AS BIGINT) AS train_n, "
        f"CAST(stv{t}.correct AS DOUBLE) / stv{t}.n AS val_acc FROM "
        + ", ".join([f"stt{t * steps + k}" for k in range(steps)]
                    + [f"stv{t}"])
        for t in range(epochs)]
    if probe:                               # debugging aid, not an oracle
        finals = [probe]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


# The Spark slot runs the trainer's one (local) step engine, so the
# hash gate certifies that engine's history directly.
HETERO_LINK_TRAIN_SAMPLED_Q = _hetero_link_train_sampled_q_sql()


#: name -> oracle SQL (queries without an entry get rows-only checks)
ORACLES: dict[str, str] = {
    "hetero_forward_q": HETERO_FORWARD_Q,
    "recommend_gnn": RECOMMEND_GNN,
    "gat_stack_train_q": GAT_STACK_TRAIN_Q,
    "gat_stack_train_sampled_q": GAT_STACK_TRAIN_SAMPLED_Q,
    "hetero_link_train_sampled_q": HETERO_LINK_TRAIN_SAMPLED_Q,
    "link_pred_train": LINK_PRED_TRAIN,
    "catalog_tables": CATALOG_TABLES,
    "edge_catalog": EDGE_CATALOG,
    "metadata_union": METADATA_UNION,
    "scan_project": SCAN_PROJECT,
    "filter_like": FILTER_LIKE,
    "semi_join": SEMI_JOIN,
    "anti_join": ANTI_JOIN,
    "three_table_join": THREE_TABLE_JOIN,
    "json_props": JSON_PROPS,
    "one_hot": ONE_HOT,
    "topk_orders": TOPK_ORDERS,
    "pricing_summary": PRICING_SUMMARY,
    "revenue_by_nation": REVENUE_BY_NATION,
    "eval_metrics": EVAL_METRICS,
    "dense_ids_variants": DENSE_IDS_VARIANTS,
    "node_features": NODE_FEATURES,
    "edges_fk": EDGES_FK,
    "edges_junction": EDGES_JUNCTION,
    "link_split": LINK_SPLIT,
    "neighbor_sample": NEIGHBOR_SAMPLE,
    "negative_sample": NEGATIVE_SAMPLE,
    "hetero_neighbor_sample": HETERO_NEIGHBOR_SAMPLE,
    "edges_attr": EDGES_ATTR,
    "degree": DEGREE,
    "hetero_counts": HETERO_COUNTS,
    "self_loops": SELF_LOOPS,
    "msg_agg": MSG_AGG,
    "msg_agg_weighted": MSG_AGG_WEIGHTED,
    "key_skew": KEY_SKEW,
    "zorder_key": ZORDER_KEY,
    "recommend": RECOMMEND,
    "text_stats": TEXT_STATS,
    "text_quality": TEXT_QUALITY,
    "lang_id": LANG_ID,
    "fingerprint": FINGERPRINT,
    "exact_dedup": EXACT_DEDUP,
    "minhash": MINHASH,
    "near_dup_pairs": NEAR_DUP_PAIRS,
    "dedup_clusters": DEDUP_CLUSTERS,
    "hash_sample": HASH_SAMPLE,
    "sample_topk": SAMPLE_TOPK,
    "token_pack": TOKEN_PACK,
    "chunk_fill": CHUNK_FILL,
    "corpus_stats": CORPUS_STATS,
    "corpus_stats_approx_err": CORPUS_STATS_APPROX_ERR,
    "tfidf_keywords": TFIDF_KEYWORDS,
    "bm25_retrieval": BM25_RETRIEVAL,
    "source_quota": SOURCE_QUOTA,
    "event_anomalies": EVENT_ANOMALIES,
    "term_topk": TERM_TOPK,
    "term_cms": TERM_CMS,
    "dup_spans": DUP_SPANS,
    "lm_nll": DOC_NLL,
    "dsir_select": DSIR_SELECT,
    "cdc_batch_variants": CDC_BATCH_VARIANTS,
    "profile_orders": PROFILE_ORDERS,
    "doc_chunks": DOC_CHUNKS,
    "repetition": REPETITION,
    "corpus_mix": CORPUS_MIX,
    "corpus_mix_temp": CORPUS_MIX_TEMP,
    "dense_ids_increment": DENSE_IDS_INCREMENT,
    "graph_increment": GRAPH_INCREMENT,
    "pii_scrub": PII_SCRUB,
    "incremental_dedup": INCREMENTAL_DEDUP,
    "pagerank": PAGERANK,
    "retention_cohorts": RETENTION_COHORTS,
    "salted_agg": SALTED_AGG,
    "degree_histogram": DEGREE_HISTOGRAM,
    "decontaminate": DECONTAMINATE,
    "frame_sample": FRAME_SAMPLE,
    "ann_variants": ANN_VARIANTS,
    "simhash": SIMHASH,
    "simhash_near_dup": SIMHASH_NEAR_DUP,
    "ngram_jaccard": NGRAM_JACCARD,
    "ann_brute": ANN_BRUTE,
    "knn_classify": KNN_CLASSIFY,
    "ann_index_variants": ANN_INDEX_VARIANTS,
    "semantic_dedup": SEMANTIC_DEDUP,
    "quality_lr_score": QUALITY_LR_SCORE,
    "quality_lr_train": QUALITY_LR_TRAIN,
    "bpe_train": BPE_TRAIN,
    "bpe_train_raw": BPE_TRAIN_RAW,
    "bpe_tokenize": BPE_TOKENIZE,
    "curation_pipeline": CURATION_PIPELINE,
    "embedding_dedup": EMBEDDING_DEDUP,
    "corpus_clean": CORPUS_CLEAN,
    "funnel_variants": FUNNEL_VARIANTS,
    "multimodal_meta": MULTIMODAL_META,
    "audio_meta": AUDIO_META,
    "video_meta": VIDEO_META,
    "hourly_variants": HOURLY_VARIANTS,
    "events_sessionize": EVENTS_SESSIONIZE,
    "events_asof": EVENTS_ASOF,
    "events_attribution": EVENTS_ATTRIBUTION,
    "rollup_pricing": ROLLUP_PRICING,
    "layout_compact": LAYOUT_COMPACT,
    "cube_pricing": CUBE_PRICING,
    "cdc_stream": CDC_STREAM,
    "stream_variants": STREAM_VARIANTS,
    "topn_per_group": TOPN_PER_GROUP,
    "copurchase": COPURCHASE,
    "triangle_count": TRIANGLES,
    "clustering_coeff": CLUSTERING_COEFF,
    "node_jaccard": NODE_JACCARD,
    "graph_bfs": GRAPH_BFS,
    "k_core": K_CORE,
    "label_prop": LABEL_PROP,
    "graph_features": GRAPH_FEATURES,
    "node_strength": NODE_STRENGTH,
    "assortativity": ASSORTATIVITY,
    "centrality_audit": CENTRALITY_AUDIT,
    "cluster_rep": CLUSTER_REP,
    "event_unpivot": EVENT_UNPIVOT,
    "triangle_increment": TRIANGLE_INCREMENT,
    "small_lots": SMALL_LOTS,
}

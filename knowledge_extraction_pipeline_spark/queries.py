"""Driver-contract query registry: every implemented operator class gets a
(spark_fn, oracle_sql) pair. The driver runs the Spark query and the DuckDB
SQL side-by-side at sf0.01 and compares row count + schema + order-insensitive
value hash — so every column is aliased identically on both sides, doubles are
made deterministic (decimal-exact sums, or same-order sequential folds) and
then rounded, and every LIMIT has a total order.

The registry holds the operators the KG system and its data pipeline use
(SURVEY §2), each with one oracle. Query families, by name prefix:
  q*          — relational scan/filter/agg/join/semi/anti/window/top-k/distinct
                and the TPC-H shapes (SURVEY §2.2-2.7), plus storage/index
                structures (consistent hashing, Merkle diff, LSM, B+-tree,
                Fenwick, zone maps, join-order DP, Yannakakis)
  kg_*        — the KG-construction semantics on the `documents` corpus
                (co-occurrence formulas, category-pair typing — SURVEY §2.3-2.4),
                the graph analytics over it, and the transcripts KG pipeline
                itself
  dedup_*     — exact / n-gram-Jaccard / containment / edit-distance /
                embedding-cosine / MinHash / SimHash near-duplicate detection
  ann_*       — brute-force, LSH, IVF and PQ top-k, MMR, PCA, clustering
  text_*, search_*, tfidf_*, bpe_* — token/word stats, quality, fingerprints,
                retrieval, tokenization
  sketch_*    — HLL/KMV/count-min/count-sketch/theta/bloom sketches
  data_*      — LLM-data-pipeline operators (crawl, packing, sampling,
                splits, curriculum) and error-correcting/erasure codes
  multimodal_pdf_*, multimodal_doc_ingest — the PDF/EPUB document scan
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import kg_docs
from .sources.tables import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: SparkQuery):
        # a duplicate name would silently SHADOW the earlier query (its
        # registry entry and oracle both replaced) — fail at import instead
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


_MEMO: dict = {}


def _memo(spark, key, build):
    """Session-scoped memo of deterministic shared upstreams. The driver's
    correctness sweep runs every registered query in ONE session, and ~40 of
    them project the same vocabulary co-occurrence graph (or re-run the same
    200-conversation pipeline build) before doing their own work — caching
    that shared prefix cuts the sweep wall without touching any query's
    values: the builds are deterministic and persist() caches exactly what
    the plan would recompute. Keyed by applicationId so a fresh session never
    sees another session's persisted plans; every entry is vocabulary- or
    fixture-scale (KBs), never data-scale."""
    k = (spark.sparkContext.applicationId, key)
    if k not in _MEMO:
        _MEMO[k] = build()
    return _MEMO[k]


def _cooc_edges(spark, sf_dir, min_cooc: int = kg_docs.MIN_COOCCURRENCES):
    """Memoized co-occurrence edges: ONE unfiltered pair aggregate per
    sf_dir, filtered per caller — `common >= min_cooc` commutes with the
    strength/confidence formulas, so every threshold variant reads the same
    persisted table."""
    base = _memo(spark, ("cooc_all", sf_dir),
                 lambda: kg_docs.doc_cooccurrence_edges(
                     spark, _t(spark, sf_dir, "documents"),
                     min_cooccurrences=1).persist())
    return base.filter(F.col("common") >= min_cooc) if min_cooc > 1 else base


def _typed_edges(spark, sf_dir):
    return _memo(spark, ("typed", sf_dir),
                 lambda: kg_docs.doc_typed_edges(
                     spark, None,
                     edges=_cooc_edges(spark, sf_dir)).persist())


# ───────────────────────── relational ─────────────────────────

# Decimal-exact money math: cast inputs to decimal so the sum is exact and
# order-independent, then cast to double and round — both engines produce
# bit-identical results.
_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_disc_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_SQL)
def q1_pricing_summary(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(price * (F.lit(1) - disc)).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_REV_NATION_SQL = """
SELECT n.n_name AS nation,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register("q_revenue_by_nation", _REV_NATION_SQL)
def q_revenue_by_nation(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # customer is NOT hinted: a broadcast hint never degrades, and at
        # sf100 customer is 15M rows — AQE picks broadcast when it fits.
        # nation (25 rows) is genuinely bounded, so the hint stays.
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


_TOP_PARTS_SQL = """
SELECT p.p_partkey, p.p_name,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_partkey, p.p_name
ORDER BY revenue DESC, p_partkey ASC
LIMIT 10
"""


@register("q_top_parts", _TOP_PARTS_SQL)
def q_top_parts(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(10)
    )


_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
"""


@register("q_order_priority_semijoin", _PRIORITY_SQL)
def q_order_priority_semijoin(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_NO_ORDERS_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


@register("q_customers_no_orders_antijoin", _NO_ORDERS_SQL)
def q_customers_no_orders_antijoin(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM flagged GROUP BY user_id
"""


@register("q_events_sessionize", _SESSIONS_SQL)
def q_events_sessionize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
    )


_RUNNING_SQL = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 4) AS running_value,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
FROM events
"""


@register("q_events_running_window", _RUNNING_SQL)
def q_events_running_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id") \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
        F.row_number().over(ws).cast("long").alias("seq"),
    )


_JSON_SQL = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


@register("q_events_json_extract", _JSON_SQL)
def q_events_json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.count(F.lit(1)).alias("n"),
    )


_SEGMENT_SQL = """
SELECT c_mktsegment,
       count(DISTINCT c_nationkey) AS n_nations,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_acctbal,
       round(max(c_acctbal), 2) AS max_acctbal
FROM customer GROUP BY c_mktsegment
"""


@register("q_segment_distinct_agg", _SEGMENT_SQL)
def q_segment_distinct_agg(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)), 4).alias("avg_acctbal"),
        F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
    )


_ROLLUP_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


@register("q_rollup_orders", _ROLLUP_SQL)
def q_rollup_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                     .cast("double"), 2).alias("total"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n", "total")
    )


_SETOPS_SQL = """
SELECT c_custkey FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE year(o.o_orderdate) = 1995
INTERSECT
SELECT c_custkey FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE year(o.o_orderdate) = 1996
"""


@register("q_setops_repeat_customers", _SETOPS_SQL)
def q_setops_repeat_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    def buyers(year):
        return (c.join(o, c.c_custkey == o.o_custkey)
                .filter(F.year("o_orderdate") == year)
                .select("c_custkey"))
    return buyers(1995).intersect(buyers(1996))


_RANGE_JOIN_SQL = """
SELECT a.event_id, count(b.event_id) AS followups
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
GROUP BY a.event_id
"""


@register("q_events_range_join", _RANGE_JOIN_SQL)
def q_events_range_join(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("b.ts") > F.col("a.ts"))
               & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES")))
        .groupBy(F.col("a.event_id").alias("event_id"))
        .agg(F.count(F.lit(1)).alias("followups"))
    )


# The right side is deduped to one view per (user_id, ts) on BOTH sides:
# DuckDB's ASOF picks an arbitrary row among ties at the max qualifying ts,
# while as_of_join picks a deterministic one — removing ties removes the
# only way the two could legitimately disagree.
_ASOF_SQL = """
SELECT c.event_id, c.user_id, c.ts,
       v.ts AS view_ts, v.event_id AS view_event_id, v.value AS view_value
FROM (SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'view'
                QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                           ORDER BY event_id) = 1) v
  ON c.user_id = v.user_id AND v.ts <= c.ts
"""


_QUANTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.9), 6) AS p90,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


@register("q_events_quantiles", _QUANTILES_SQL)
def q_events_quantiles(spark, sf_dir):
    """Exact linearly-interpolated quantiles per event type — Spark's
    percentile() and DuckDB's quantile_cont() implement the same type-7
    definition, value-identical at 6 dp. Exact percentile holds a per-group
    value histogram in the aggregation buffer; at true 100 TB scale switch
    to percentile_approx (t-digest-style bounded state) unless per-group
    cardinality is known-bounded."""
    ev = _t(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.9))")
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("_p"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.round(F.col("_p")[0], 6).alias("p25"),
            F.round(F.col("_p")[1], 6).alias("p50"),
            F.round(F.col("_p")[2], 6).alias("p75"),
            F.round(F.col("_p")[3], 6).alias("p90"),
            "n",
        )
    )


def _asof_clicks_views(spark, sf_dir, bucket: float | None):
    """Shared body of the two as-of registrations: every click gets the
    latest preceding view per user (views deduped per (user, ts) so the
    oracle's tie handling is deterministic)."""
    from pyspark.sql import Window

    from .operators.asof import as_of_join
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("event_id", "user_id", "ts", "value")
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("event_id", "user_id", "ts", "value")
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("user_id", "ts").orderBy("event_id")))
        .filter(F.col("_rn") == 1).drop("_rn")
    )
    out = as_of_join(clicks, views, on="user_id", ts_col="ts",
                     right_prefix="view_", bucket=bucket)
    return out.select("event_id", "user_id", "ts",
                      "view_ts", "view_event_id", "view_value")


@register("q_events_asof_join", _ASOF_SQL)
def q_events_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): every click gets the latest preceding
    view per user — DuckDB's native ASOF JOIN is the oracle; the Spark plan
    is the linear union+running-last shape, not an inequality join."""
    return _asof_clicks_views(spark, sf_dir, bucket=None)


@register("q_events_asof_bucketed", _ASOF_SQL)
def q_events_asof_bucketed(spark, sf_dir):
    """The hot-key-safe as-of plan (bucket= time-bucket pre-partitioning +
    boundary stitch) against the SAME DuckDB native-ASOF oracle — proving
    the bucketed path is value-identical, not just equivalent in tests."""
    return _asof_clicks_views(spark, sf_dir, bucket=6 * 3600.0)


# ───────────────────────── kg on documents ─────────────────────────

_KG_MENTIONS_SQL = f"""
SELECT d.doc_id, lex.term, lex.category
FROM documents d, {kg_docs.lexicon_values_sql()}
WHERE list_contains(string_split(d.text, ' '), lex.term)
"""


@register("kg_mentions_docs", _KG_MENTIONS_SQL)
def kg_mentions_docs(spark, sf_dir):
    return kg_docs.doc_mentions(spark, _t(spark, sf_dir, "documents"))


_KG_COOCCUR_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), n AS (
  SELECT term, count(*) AS n FROM m GROUP BY term
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
)
SELECT p.term_a, p.term_b, p.common,
       round(CAST(p.common AS DOUBLE) / least(na.n, nb.n), 6) AS strength,
       round(least(1.0, CAST(p.common AS DOUBLE) / 10.0), 6) AS confidence
FROM pairs p
JOIN n na ON na.term = p.term_a
JOIN n nb ON nb.term = p.term_b
"""


@register("kg_cooccur_docs", _KG_COOCCUR_SQL)
def kg_cooccur_docs(spark, sf_dir):
    return _cooc_edges(spark, sf_dir)


_KG_TYPED_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), n AS (
  SELECT term, count(*) AS n FROM m GROUP BY term
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
)
SELECT p.term_a, typ.pred, p.term_b, p.common,
       round(CAST(p.common AS DOUBLE) / least(na.n, nb.n), 6) AS strength,
       round(least(1.0, CAST(p.common AS DOUBLE) / 10.0), 6) AS confidence
FROM pairs p
JOIN n na ON na.term = p.term_a
JOIN n nb ON nb.term = p.term_b
JOIN {kg_docs.typing_values_sql()} ON typ.term_a = p.term_a AND typ.term_b = p.term_b
"""


@register("kg_typed_edges_docs", _KG_TYPED_SQL)
def kg_typed_edges_docs(spark, sf_dir):
    return _typed_edges(spark, sf_dir)


_KG_DEGREE_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), und AS (
  SELECT term_a AS term FROM pairs UNION ALL SELECT term_b FROM pairs
)
SELECT term, count(*) AS degree FROM und GROUP BY term
"""


@register("kg_degree_docs", _KG_DEGREE_SQL)
def kg_degree_docs(spark, sf_dir):
    return kg_docs.doc_degree_centrality(spark, _t(spark, sf_dir, "documents"))


# Triangle oracle uses the simple a<b orientation; the operator's
# degree-ordered orientation finds the identical triangle set (any total
# order does), so the per-node counts agree exactly.
_KG_TRIANGLES_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), deg AS (
  SELECT term AS node, count(*) AS d FROM (
    SELECT a AS term FROM e UNION ALL SELECT b FROM e
  ) GROUP BY term
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), corners AS (
  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
), t AS (
  SELECT node, count(*) AS triangles FROM corners GROUP BY node
)
SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       round(CASE WHEN deg.d >= 2
                  THEN 2.0 * coalesce(t.triangles, 0) / (deg.d * (deg.d - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg LEFT JOIN t ON t.node = deg.node
"""


_KG_LINKPRED_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), both_dir AS (
  SELECT a AS z, b AS x FROM e UNION ALL SELECT b AS z, a AS x FROM e
), deg AS (
  SELECT z, count(*) AS d FROM both_dir GROUP BY z
), pairs AS (
  SELECT e1.x AS a, e2.x AS b,
         round(sum(1.0 / ln(deg.d)), 6) AS aa_score,
         count(*) AS common_neighbors
  FROM both_dir e1 JOIN both_dir e2 ON e1.z = e2.z AND e1.x < e2.x
  JOIN deg ON deg.z = e1.z
  GROUP BY e1.x, e2.x
)
SELECT a, b, CAST(common_neighbors AS BIGINT) AS common_neighbors, aa_score
FROM pairs
"""


@register("kg_link_prediction_docs", _KG_LINKPRED_SQL)
def kg_link_prediction_docs(spark, sf_dir):
    """Adamic-Adar common-neighbor scores over the documents co-occurrence
    graph (operators/graph_algos.adamic_adar) — rarer shared neighbors
    weighted higher. Registered with include_existing=True: this small dense
    graph has no non-adjacent pair with a common neighbor, so the default
    (missing-edge-only, anti-joined) output would be empty and verify
    nothing; scoring all pairs exercises the full wedge + weighting path."""
    from .operators.graph_algos import adamic_adar
    edges = _cooc_edges(spark, sf_dir)
    return adamic_adar(edges, src="term_a", dst="term_b",
                       include_existing=True)


@register("kg_triangles_docs", _KG_TRIANGLES_SQL)
def kg_triangles_docs(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient over the
    documents co-occurrence graph (operators/graph_algos.triangle_counts —
    degree-ordered orientation, two equi-join shuffles)."""
    from .operators.graph_algos import triangle_counts
    edges = _cooc_edges(spark, sf_dir)
    return triangle_counts(edges, src="term_a", dst="term_b")


def _pagerank_sql(max_iter: int = 15, scale: int = 10**12,
                  num: int = 85, den: int = 100) -> str:
    """Fixed-point PageRank oracle: the same integer recurrence the Spark
    operator runs (graph_algos.pagerank_scaled), unrolled max_iter times as
    chained CTEs (DuckDB's recursive CTEs allow only one self-reference; the
    step needs two — the contribution join and the dangling sum). Integer
    floor-division everywhere ⇒ bit-identical to Spark regardless of
    aggregation order."""
    # AS MATERIALIZED: the unrolled iterations reference e/nodes/nn/od
    # max_iter times each; DuckDB inlines plain CTEs, which would re-open the
    # parquet file per reference (EMFILE) and redo the scan 15x.
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS src, b.term AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
od AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, {scale} // nn.n AS r FROM nodes, nn)"""
    return (head + _pr_recurrence(max_iter, scale, num, den)
            + f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r{max_iter}")


def _pr_recurrence(max_iter: int, scale: int, num: int, den: int,
                   contrib: str = "r.r // od.deg") -> str:
    """The unrolled fixed-point PageRank iteration CTEs, shared by every
    PageRank-family oracle. Expects CTEs named e(src,dst) / nodes(node) /
    nn(n) / od(node,deg) / r0(node,r) to be in scope. `contrib` is the
    per-edge rank-contribution expression — "(r.r * e.w) // od.deg" for the
    weighted variant (od.deg then being the per-src weight sum)."""
    steps = []
    for i in range(1, max_iter + 1):
        p = f"r{i - 1}"
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT nodes.node,
         (({den - num} * {scale}) // ({den} * nn.n))
         + ({num} * (coalesce(s.in_sum, 0) + dg.dang // nn.n)) // {den} AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS node, sum({contrib}) AS in_sum
             FROM e JOIN {p} r ON e.src = r.node JOIN od ON od.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node
  CROSS JOIN (SELECT coalesce(sum(r.r), 0) AS dang
              FROM {p} r LEFT JOIN od ON r.node = od.node
              WHERE od.node IS NULL) dg
)""")
    return "".join(steps)


@register("kg_pagerank_docs", _pagerank_sql())
def kg_pagerank_docs(spark, sf_dir):
    from .operators.graph_algos import pagerank_scaled
    edges = _typed_edges(spark, sf_dir)
    return pagerank_scaled(edges.withColumnRenamed("term_a", "subj")
                           .withColumnRenamed("term_b", "obj"), max_iter=15)


def _centrality_sql(max_hops: int = 4, scale: int = 10**6) -> str:
    """Harmonic/closeness oracle: all-pairs BFS unrolled one (frontier,
    seen) CTE pair per hop, then integer floor-division score sums —
    bit-identical to graph_algos.harmonic_centrality."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= 2
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
s0 AS MATERIALIZED (SELECT node AS root, node, 0 AS d FROM nodes),
f0 AS (SELECT root, node FROM s0)"""
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(f""",
f{i} AS MATERIALIZED (
  SELECT DISTINCT p.root, e.dst AS node
  FROM f{i - 1} p JOIN e ON e.src = p.node
  WHERE NOT EXISTS (SELECT 1 FROM s{i - 1} s
                    WHERE s.root = p.root AND s.node = e.dst)
),
s{i} AS MATERIALIZED (
  SELECT * FROM s{i - 1} UNION ALL SELECT root, node, {i} AS d FROM f{i}
)""")
    return head + "".join(steps) + f"""
SELECT root AS node,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(max(d) AS BIGINT) AS eccentricity,
       CAST(sum(d) AS BIGINT) AS sum_dist,
       CAST(sum({scale} // d) AS BIGINT) AS harmonic_e6,
       CAST((count(*) * {scale}) // sum(d) AS BIGINT) AS closeness_e6
FROM s{max_hops} WHERE d > 0 GROUP BY root"""


@register("kg_centrality_docs", _centrality_sql())
def kg_centrality_docs(spark, sf_dir):
    """Closeness-family centralities (harmonic, closeness, eccentricity)
    via bounded all-pairs BFS on the projected concept graph — integer
    fixed-point scores (graph_algos.harmonic_centrality)."""
    from .operators.graph_algos import harmonic_centrality
    edges = _typed_edges(spark, sf_dir)
    return harmonic_centrality(edges.withColumnRenamed("term_a", "subj")
                               .withColumnRenamed("term_b", "obj"))


def _pagerank_weighted_sql(max_iter: int = 15, scale: int = 10**12,
                           num: int = 85, den: int = 100) -> str:
    """Weighted-PageRank oracle: same unrolled recurrence, per-edge
    contribution (r·w) // Σw_out with w = the pair co-occurrence count."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
od AS MATERIALIZED (SELECT src AS node, sum(w) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, {scale} // nn.n AS r FROM nodes, nn)"""
    return (head
            + _pr_recurrence(max_iter, scale, num, den,
                             contrib="(r.r * e.w) // od.deg")
            + f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled"
              f" FROM r{max_iter}")


@register("kg_pagerank_weighted_docs", _pagerank_weighted_sql())
def kg_pagerank_weighted_docs(spark, sf_dir):
    """Evidence-weighted PageRank: rank mass flows proportionally to the
    pair co-occurrence count instead of uniformly per out-edge
    (pagerank_scaled(weight=...), integer (r·w)//Σw contributions)."""
    from .operators.graph_algos import pagerank_scaled
    edges = _cooc_edges(spark, sf_dir)
    return pagerank_scaled(edges.withColumnRenamed("term_a", "subj")
                           .withColumnRenamed("term_b", "obj"),
                           max_iter=15, weight="common")


def _negsample_sql(k: int = 3, attempts: int = 8, seed: int = 42,
                   min_cooc: int = 322) -> str:
    """Negative-sampling oracle: identical hash-indexed tail proposal +
    adjacency anti-join + first-k-attempts selection in SQL."""
    return f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), und AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), verts AS MATERIALIZED (
  SELECT node, CAST(row_number() OVER (ORDER BY node) AS INTEGER) AS idx
  FROM (SELECT DISTINCT src AS node FROM und)
), nv AS (SELECT count(*) AS n FROM verts),
att AS (
  SELECT a AS subj, b AS obj, CAST(i AS INTEGER) AS attempt,
         CAST(CAST(concat('0x', substr(md5(concat('neg:{seed}:', a, ':', b,
                    ':', CAST(i AS VARCHAR))), 1, 16)) AS UBIGINT)
              % (SELECT n FROM nv) AS INTEGER) + 1 AS idx
  FROM e0, range(0, {attempts}) t(i)
), cand AS (
  SELECT att.subj, att.obj, v.node AS neg_obj,
         CAST(min(att.attempt) AS INTEGER) AS attempt
  FROM att JOIN verts v USING (idx)
  WHERE v.node != att.subj
    AND NOT EXISTS (SELECT 1 FROM und u
                    WHERE u.src = att.subj AND u.dst = v.node)
  GROUP BY att.subj, att.obj, v.node
)
SELECT subj, obj, neg_obj, attempt FROM cand
QUALIFY row_number() OVER (PARTITION BY subj, obj ORDER BY attempt) <= {k}
"""


@register("kg_negative_samples", _negsample_sql())
def kg_negative_samples(spark, sf_dir):
    """Deterministic TransE-style corrupt-tail negative sampling on the
    concept graph (graph_algos.negative_samples): hash-indexed proposals,
    adjacency anti-join, first-k-attempts — reproducible across engines,
    retries and cluster widths. min_cooccurrences=322 sparsifies (the
    default-2 concept graph is complete at sf0.01, leaving no valid
    negatives — same rationale as kg_kcore_docs)."""
    from .operators.graph_algos import negative_samples
    edges = _cooc_edges(spark, sf_dir, 322)
    return negative_samples(edges.withColumnRenamed("term_a", "subj")
                            .withColumnRenamed("term_b", "obj"))


def _lpa_ctes(n_iters: int = 5, min_cooc: int = 2) -> str:
    """The synchronous LPA recurrence as a WITH-clause prefix (one
    MATERIALIZED CTE per round, the pagerank-oracle technique) — shared by
    the communities oracle and the modularity oracle so the recurrence can
    never drift between them. Exposes CTEs e (unique a<b edges), bd
    (undirected adjacency) and l{n_iters} (final labels)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
l0 AS (SELECT node, node AS label FROM nodes)"""
    steps = []
    for i in range(1, n_iters + 1):
        p = f"l{i - 1}"
        steps.append(f""",
l{i} AS MATERIALIZED (
  SELECT nd.node, coalesce(p.label, pv0.label) AS label
  FROM nodes nd
  JOIN {p} pv0 ON pv0.node = nd.node
  LEFT JOIN (
    SELECT c.node, c.label FROM (
      SELECT bd.node AS node, pv.label AS label, count(*) AS cnt
      FROM bd JOIN {p} pv ON pv.node = bd.nbr
      GROUP BY bd.node, pv.label
    ) c
    QUALIFY row_number() OVER (PARTITION BY c.node
                               ORDER BY c.cnt DESC, c.label ASC) = 1
  ) p ON p.node = nd.node
)""")
    return head + "".join(steps)


def _lpa_sql(n_iters: int = 5) -> str:
    """Label-propagation oracle: the shared recurrence + final projection."""
    return (_lpa_ctes(n_iters)
            + f"\nSELECT node, label AS community FROM l{n_iters}")


@register("kg_communities_docs", _lpa_sql())
def kg_communities_docs(spark, sf_dir):
    """Community detection by deterministic synchronous label propagation
    (operators/graph_algos.label_propagation) over the document
    co-occurrence graph."""
    from .operators.graph_algos import label_propagation
    edges = _cooc_edges(spark, sf_dir)
    return label_propagation(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"), n_iters=5)


_KHOP_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS src, b.term AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), h0 AS (SELECT 'spark' AS node, 0 AS hop),
h1 AS (
  SELECT DISTINCT u.dst AS node, 1 AS hop
  FROM und u JOIN h0 ON u.src = h0.node
  WHERE u.dst NOT IN (SELECT node FROM h0)
), h2 AS (
  SELECT DISTINCT u.dst AS node, 2 AS hop
  FROM und u JOIN h1 ON u.src = h1.node
  WHERE u.dst NOT IN (SELECT node FROM h0 UNION SELECT node FROM h1)
)
SELECT node, CAST(hop AS INTEGER) AS hop FROM h0
UNION ALL SELECT node, CAST(hop AS INTEGER) FROM h1
UNION ALL SELECT node, CAST(hop AS INTEGER) FROM h2
"""


@register("kg_khop_docs", _KHOP_SQL)
def kg_khop_docs(spark, sf_dir):
    from .operators.graph_algos import k_hop_neighborhood
    edges = _typed_edges(spark, sf_dir)
    return k_hop_neighborhood(
        edges.withColumnRenamed("term_a", "subj").withColumnRenamed("term_b", "obj"),
        ["spark"], k=2)


# ───────────────────────── dedup ─────────────────────────

_DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keeper_id, count(*) AS group_size
FROM documents GROUP BY 1
"""


@register("dedup_exact_docs", _DEDUP_EXACT_SQL)
def dedup_exact_docs(spark, sf_dir):
    from .operators.dedup import exact_duplicates
    return exact_duplicates(_t(spark, sf_dir, "documents"))


_NGRAM_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id AS id, lang AS blk,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)
)
SELECT a.id AS id_a, b.id AS id_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.1
"""


@register("dedup_ngram_jaccard_docs", _NGRAM_JACCARD_SQL)
def dedup_ngram_jaccard_docs(spark, sf_dir):
    from .operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.1, k=3)


_EMB_NEAR_DUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.8
"""


@register("dedup_embedding_cosine", _EMB_NEAR_DUP_SQL)
def dedup_embedding_cosine(spark, sf_dir):
    from .operators.dedup import embedding_near_dup_pairs
    return embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.8)


# MinHash oracle = the exact-Jaccard pair set (no blocking) over the
# EXACT-DEDUPED corpus: the operator's pre_collapse_exact=True default folds
# byte-identical (normalized) texts to their min-id representative BEFORE
# hashing (exact duplicates belong to the exact-dedup pass), so the oracle
# mirrors that collapse — `rep` below is the same min-id-per-md5(norm) set.
# (The operator's bucket_cap=2000 guard cannot fire here: every band bucket
# in this corpus is orders of magnitude below the cap, so capping drops
# nothing.) On the surviving pairs equality holds because candidate
# generation loses only pairs that miss ALL 16 bands: P(miss) = (1-J²)^16
# per pair — ≤ 3e-12 at the J ≥ 0.9 this corpus's near-dup pairs sit at
# (verified: every sf0.01/0.001 pair with J ≥ 0.1 has J ≥ 0.9). The hashes
# are deterministic, so the comparison is stable, and
# tests/test_dedup_similarity.py pins the subset+recall semantics besides.
_MINHASH_SQL = """
WITH rep AS (
  SELECT min(doc_id) AS id
  FROM documents
  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
), sh AS (
  SELECT doc_id AS id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents JOIN rep ON documents.doc_id = rep.id)
)
SELECT a.id AS id_a, b.id AS id_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.1
"""


@register("dedup_minhash_docs", _MINHASH_SQL)
def dedup_minhash_docs(spark, sf_dir):
    """MinHash-LSH near-dup pairs vs an EXACT ground-truth oracle (the SQL
    computes true Jaccard over all pairs). At the gate's corpus every true
    pair >= 0.1 happens to collide in a band, so LSH recall is 1.0 and the
    hash matches; at larger corpora borderline-J pairs can miss all 16
    bands (measured: 242/245 at sf0.1) — the probabilistic-recall trade
    that makes LSH linear, not an engine defect."""
    from .operators.dedup import minhash_near_dup_pairs
    return minhash_near_dup_pairs(_t(spark, sf_dir, "documents"), threshold=0.1)


# SimHash oracle: the 64-bit signature is reproduced EXACTLY in SQL (md5 of
# each word → first 8 bytes as uint64 → per-bit ±1 accumulation → sign bits,
# two's-complement to match Spark's signed long), then pairs brute-forced.
# Brute force equals the blocked Spark plan by construction: 4x16-bit
# pigeonhole blocking is lossless for hamming <= 3. The operator's
# pre_collapse_identical=True default folds identical signatures to their
# min-id representative before pairing — mirrored by the `s` CTE's GROUP BY
# sim. (block_cap=2000 cannot fire on this corpus: every block bucket is
# far below the cap.)
_SIMHASH_SQL = r"""
WITH w AS (
  SELECT id, CAST(concat('0x', substr(md5(word), 1, 16)) AS UBIGINT) AS h
  FROM (SELECT doc_id AS id, unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents)
  WHERE word != ''
), bits AS (
  SELECT id, k, sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM w, range(64) t(k)
  GROUP BY id, k
), sig AS (
  SELECT id, sum(CASE WHEN acc >= 0
                      THEN CAST(CAST(1 AS UBIGINT) << CAST(k AS INTEGER) AS HUGEINT)
                      ELSE 0 END) AS raw
  FROM bits GROUP BY id
), s0 AS (
  SELECT id, CAST(CASE WHEN raw >= 9223372036854775808 THEN raw - 18446744073709551616
                       ELSE raw END AS BIGINT) AS sim
  FROM sig
), s AS (
  SELECT min(id) AS id, sim FROM s0 GROUP BY sim
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
"""


@register("dedup_simhash_docs", _SIMHASH_SQL)
def dedup_simhash_docs(spark, sf_dir):
    from .operators.dedup import simhash_near_dup_pairs
    return simhash_near_dup_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


_TFIDF_STOP = "'" + "', '".join([
    "the", "and", "for", "are", "but", "not", "you", "all", "can", "had",
    "her", "was", "one", "our", "out", "has", "have", "this", "that", "with",
    "from", "they", "been", "were", "which", "their", "there", "would",
]) + "'"

_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split_regex(lower(text), '\\s+')) AS token
  FROM documents
), ftoks AS (
  SELECT id, token FROM toks
  WHERE regexp_matches(token, '^[a-z][a-z-]*[a-z]$')
    AND length(token) > 2 AND token NOT IN ({_TFIDF_STOP})
), tf AS (
  SELECT id, token, count(*) AS tf FROM ftoks GROUP BY id, token
), dfreq AS (
  -- inverted-index pruning, mirrored from tfidf_weights(max_df_ratio=0.5):
  -- tokens present in more than half the corpus never reach the join
  SELECT token, count(*) AS df FROM tf GROUP BY token
  HAVING count(*) <= (SELECT CAST(floor(count(*) * 0.5) AS BIGINT) FROM documents)
), n AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT tf.id, tf.token,
         tf.tf * (ln(CAST(n.n AS DOUBLE) / (dfreq.df + 1)) + 1) AS w
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
), nrm AS (
  SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY id
), v AS (
  SELECT w.id, w.token, w.w / nrm.nrm AS w FROM w JOIN nrm USING (id)
), sims AS (
  SELECT a.id AS id_a, b.id AS id_b, round(sum(a.w * b.w), 6) AS sim
  FROM v a JOIN v b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id
  HAVING round(sum(a.w * b.w), 6) >= 0.3
)
SELECT id_a, id_b, sim, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a
                                   ORDER BY sim DESC, id_b ASC) AS rank
      FROM sims)
WHERE rank <= 5
"""


@register("tfidf_similar_docs", _TFIDF_SQL)
def tfidf_similar_docs(spark, sf_dir):
    from .operators.tfidf import tfidf_similar_pairs
    return tfidf_similar_pairs(_t(spark, sf_dir, "documents"))


# ───────────────────────── similarity ─────────────────────────

_ANN_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.query_id, a.vec_id AS id,
         round(list_dot_product(a.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM embeddings a, q WHERE a.vec_id != q.query_id
)
SELECT query_id, id, cos,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""


@register("ann_topk_cosine", _ANN_SQL)
def ann_topk_cosine(spark, sf_dir):
    from .operators.similarity import brute_force_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    out = brute_force_topk(embs, q, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


_ANN_FILTERED_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.query_id, a.vec_id AS id,
         round(list_dot_product(a.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM embeddings a, q
  WHERE a.vec_id != q.query_id AND a.label IN (1, 3, 5)
)
SELECT query_id, id, cos, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""


@register("ann_topk_filtered", _ANN_FILTERED_SQL)
def ann_topk_filtered(spark, sf_dir):
    """Metadata-filtered ANN — the reference's collection.query(where=...)
    (core/vector_store.py:188-199): the predicate prunes the corpus BEFORE
    scoring, pushed into the scan."""
    from .operators.similarity import brute_force_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    out = brute_force_topk(embs, q, k=10, where=F.col("label").isin(1, 3, 5))
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_topk_sql(num_planes: int = 6, dim: int = 64, k: int = 10) -> str:
    """LSH ANN oracle: the hyperplanes are md5-derived literals
    (functions/vectors.lsh_planes), so the SQL computes the IDENTICAL bucket
    ids — same sign tests against the same plane constants — then ranks the
    bucket-joined candidates by exact cosine, exactly like the Spark plan."""
    from .functions.vectors import lsh_planes

    planes = lsh_planes(num_planes, dim)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {plane!r}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes))
    return f"""
WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT id, v, {bucket} AS bucket FROM c),
q AS (SELECT id AS query_id, v AS qv, bucket FROM b WHERE id IN (0, 1, 2)),
scored AS (
  SELECT q.query_id, b.id,
         round(list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM b JOIN q ON b.bucket = q.bucket AND b.id != q.query_id
)
SELECT query_id, id, cos, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, id ASC) AS rank
      FROM scored)
WHERE rank <= {k}
"""


@register("ann_lsh_topk", _lsh_topk_sql())
def ann_lsh_topk(spark, sf_dir):
    from .operators.similarity import lsh_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    out = lsh_topk(embs, q, k=10, num_planes=6, dim=64)
    return out.withColumn("rank", F.col("rank").cast("long"))


_SF_EVENT_ROWS = {"0.001": 1000, "0.01": 10000, "0.1": 100000}


def _scale_keyed_fixture_sql(rows_by_sf: dict) -> str:
    """Serve a per-scale VALUES fixture keyed by a corpus probe: each row is
    tagged with its scale's events-table row count and the query keeps only
    the rows whose tag equals (SELECT count(*) FROM events) — so ONE static
    oracle string is value-exact at every generated scale (the embeddings
    tables at sf0.001 and sf0.01 both have 500 rows, so the events count is
    the discriminating probe)."""
    vals = ", ".join(
        f"({_SF_EVENT_ROWS[sf]}, {q}, {i}, {cos!r}, {rank})"
        for sf, rows in rows_by_sf.items() if sf in _SF_EVENT_ROWS
        for q, i, cos, rank in rows)
    return (f"SELECT CAST(query_id AS BIGINT) AS query_id,"
            f" CAST(id AS BIGINT) AS id, CAST(cos AS DOUBLE) AS cos,"
            f" CAST(rank AS BIGINT) AS rank"
            f" FROM (VALUES {vals}) t(ev, query_id, id, cos, rank)"
            f" WHERE ev = (SELECT count(*) FROM events)")


def _ivf_fixture_sql() -> str:
    """IVF ANN oracle: the quantizer is deterministic end-to-end (md5-seeded
    sample + fixed-point Lloyd updates + 6-dp-rounded assignment, see
    operators/similarity.ivf_assignments), so the whole query is re-evaluated
    single-process in plain Python (scripts/gen_ivf_fixture.py — no Spark,
    the same technique as the semantic-chunk fixture) and served as VALUES.
    The driver compares at sf0.01; tests pin sf0.001 besides."""
    from .ivf_fixture import IVF_TOPK

    return _scale_keyed_fixture_sql(IVF_TOPK)


@register("ann_ivf_topk", _ivf_fixture_sql())
def ann_ivf_topk(spark, sf_dir):
    from .operators.similarity import ivf_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    return ivf_topk(embs, q, k=10, n_centroids=8, n_probe=2)


def _pq_fixture_sql() -> str:
    """PQ ANN oracle — same single-process-Python-fixture technique as IVF
    (scripts/gen_ivf_fixture.py:pq_topk_single_process): the codebooks are
    md5-seeded + fixed-point, the ADC tables and shortlist are 6-dp-rounded,
    so the whole compressed-scan + exact-re-rank query is reproduced
    value-exactly outside Spark."""
    from .ivf_fixture import PQ_TOPK

    return _scale_keyed_fixture_sql(PQ_TOPK)


@register("ann_pq_topk", _pq_fixture_sql())
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.pq_topk): compressed
    m-code scan + ADC shortlist + exact cosine re-rank — the memory path
    for 10^9-vector corpora."""
    from .operators.similarity import pq_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    return pq_topk(embs, q, k=10, m=16, n_codes=16, shortlist=100)


def _ivfpq_residual_fixture_sql() -> str:
    """True-IVFADC oracle — the same single-process-Python-fixture technique
    as IVF/PQ (scripts/gen_ivf_fixture.py:ivfpq_residual_single_process):
    the coarse quantizer, the residual computation, the residual PQ
    codebooks, the per-(query, list) ADC tables and the shortlist are all
    deterministic by construction, so the full operator is reproduced
    value-exactly outside Spark."""
    from .ivf_fixture import IVFPQ_RESIDUAL_TOPK

    return _scale_keyed_fixture_sql(IVFPQ_RESIDUAL_TOPK)


@register("ann_ivfpq_residual_topk", _ivfpq_residual_fixture_sql())
def ann_ivfpq_residual_topk(spark, sf_dir):
    """Residual-quantized IVF-PQ — true IVFADC (Jégou et al., TPAMI 2011):
    PQ codebooks trained on residuals vs the coarse centroid, per-(query,
    probed-list) ADC tables, exact cosine re-rank
    (operators/similarity.ivf_pq_residual_topk)."""
    from .operators.similarity import ivf_pq_residual_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    return ivf_pq_residual_topk(embs, q, k=10, n_centroids=8, n_probe=2,
                                m=16, n_codes=16, shortlist=100)


def _bm25_sql(terms=("spark", "join", "vector"), k=20, k1=1.2, b=0.75) -> str:
    """BM25 oracle — the exact float literals Spark computes (k1+1, 1−b) are
    embedded via repr() so both engines evaluate identical constants, and
    every float expression is parenthesized to mirror the Spark expression
    tree; per-term contributions are 6-dp-rounded fixed-point longs summed
    exactly (order-free) in BOTH engines."""
    tl = ", ".join(f"'{t}'" for t in terms)
    avgdl = "(CAST(sdl AS DOUBLE) / n)"
    idf = "ln((((n - df) + 0.5) / (df + 0.5)) + 1.0)"
    denom = f"(tf + ({k1!r} * ({(1.0 - b)!r} + (({b!r} * dl) / {avgdl}))))"
    contrib = f"(({idf} * (tf * {(k1 + 1.0)!r})) / {denom})"
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             w -> w != '') AS words
  FROM documents
), dl AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM base
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(words) AS token FROM base)
  WHERE token IN ({tl}) GROUP BY doc_id, token
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl
), dfq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
), c AS (
  SELECT tf.doc_id,
         CAST(round(round({contrib}, 6) * 1000000.0, 0) AS BIGINT) AS cq
  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN stats
), s AS (
  SELECT doc_id, round(sum(cq) / 1000000.0, 6) AS score,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM c GROUP BY doc_id
)
SELECT doc_id, score, n_terms,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM s ORDER BY score DESC, doc_id LIMIT {k}
"""


@register("search_bm25", _bm25_sql())
def search_bm25(spark, sf_dir):
    """Okapi BM25 ranked retrieval over the documents corpus
    (operators/tfidf.bm25_rank) — top-k via distributed TakeOrdered, scores
    fixed-point deterministic across engines."""
    from .operators.tfidf import bm25_rank
    return bm25_rank(_t(spark, sf_dir, "documents"),
                     ["spark", "join", "vector"], k=20)


# ───────────────────────── text analysis ─────────────────────────

_TEXT_STATS_SQL = """
SELECT source AS grp, count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_words,
       CAST(sum(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
                                        w -> CAST(ceil(length(w) / 4.0) AS INT)))) AS BIGINT) AS total_tokens,
       round(CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) / count(*), 4) AS avg_words,
       CAST(min(length(text)) AS BIGINT) AS min_chars,
       CAST(max(length(text)) AS BIGINT) AS max_chars
FROM documents GROUP BY source
"""


@register("text_corpus_stats", _TEXT_STATS_SQL)
def text_corpus_stats(spark, sf_dir):
    from .operators.text_analysis import corpus_stats
    s = corpus_stats(_t(spark, sf_dir, "documents"))
    return s.withColumn(
        "avg_words",
        F.round(F.col("total_words").cast("double") / F.col("n_docs"), 4))


_TEXT_TOKENS_SQL = """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
                                    w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT) AS n_tokens,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
"""


@register("text_tokens_fingerprint", _TEXT_TOKENS_SQL)
def text_tokens_fingerprint(spark, sf_dir):
    from .functions.text import normalize_term, token_count, word_count
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        word_count(F.col("text")).cast("long").alias("n_words"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.md5(normalize_term(F.col("text"))).alias("fp"),
    )


# lang_id + quality_score mirrored expression-for-expression (marker-word
# intersections, stopword/punctuation ratios — functions/text.py:49-89).
_LANG_QUALITY_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(lower(text), '\s+') AS lwords,
         len(string_split_regex(trim(text), '\s+')) AS wc,
         length(text) AS n
  FROM documents
), scored AS (
  SELECT doc_id, text, wc, n,
    len(list_intersect(lwords, ['the','and','of','to','is'])) AS s_en,
    len(list_intersect(lwords, ['el','la','de','que','los'])) AS s_es,
    len(list_intersect(lwords, ['le','la','les','des','est'])) AS s_fr,
    len(list_intersect(lwords, ['der','die','und','das','ist'])) AS s_de,
    len(list_intersect(lwords, ['the','a','of','to','and','is','in','that'])) AS stop_hits,
    n - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS punct
  FROM base
)
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
       WHEN greatest(s_en, s_es, s_fr, s_de) > 0 AND s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
       WHEN greatest(s_en, s_es, s_fr, s_de) > 0 AND s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
       WHEN greatest(s_en, s_es, s_fr, s_de) > 0 AND s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
       WHEN greatest(s_en, s_es, s_fr, s_de) > 0 AND s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
       ELSE 'en' END AS lang_pred,
  round(0.5 * least(1.0, wc / 100.0)
      + 0.5 * least(1.0, 5.0 * stop_hits / greatest(CAST(wc AS DOUBLE), 1.0))
      - least(0.5, CAST(punct AS DOUBLE) / greatest(CAST(n AS DOUBLE), 1.0)), 4) AS quality
FROM scored
"""


@register("text_lang_quality", _LANG_QUALITY_SQL)
def text_lang_quality(spark, sf_dir):
    from .operators.text_analysis import annotate
    return annotate(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred", "quality")


def _pii_sql() -> str:
    """PII-redaction oracle: the SAME RE2-safe pattern strings (the operator
    keeps them lookaround-free precisely so one pattern runs in Java regex
    and RE2), applied in the same progressive order — each kind is counted
    on the text with earlier kinds already replaced, exactly like the
    operator's fold."""
    from .operators.text_analysis import PII_PATTERNS

    cols, prev = [], "text"
    for kind, pat in PII_PATTERNS:
        lit = pat.replace("'", "''")
        cols.append(f"CAST(len(regexp_extract_all({prev}, '{lit}')) AS BIGINT)"
                    f" AS n_{kind}")
        prev = f"regexp_replace({prev}, '{lit}', '[{kind.upper()}]', 'g')"
    return (f"SELECT doc_id, {', '.join(cols)}, md5({prev}) AS red_fp"
            f" FROM documents")


@register("text_pii_redact", _pii_sql())
def text_pii_redact(spark, sf_dir):
    """Training-data PII hygiene: typed-tag redaction + per-kind counts;
    the redacted text is fingerprinted so the oracle verifies the full
    replacement chain, not just the counts."""
    from .operators.text_analysis import redact_pii
    d = redact_pii(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", "n_email", "n_phone", "n_ssn", "n_ipv4",
        F.md5(F.col("text_redacted")).alias("red_fp"))


_REPETITION_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     w -> w != '') AS words
  FROM documents
), ext AS (
  SELECT doc_id, words, len(words) AS n, list_distinct(words) AS uniq,
         [words[i] || ' ' || words[i+1] FOR i IN range(1, greatest(len(words), 1))] AS bigrams
  FROM base
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_words,
  round(CAST(len(uniq) AS DOUBLE) / greatest(n, 1), 6) AS distinct_word_ratio,
  round(CAST(coalesce(list_max([len(list_filter(words, w -> w = u)) FOR u IN uniq]), 0) AS DOUBLE)
        / greatest(n, 1), 6) AS top_word_frac,
  round(CAST(coalesce(list_max([len(list_filter(bigrams, w -> w = u)) FOR u IN list_distinct(bigrams)]), 0) AS DOUBLE)
        / greatest(len(bigrams), 1), 6) AS top_bigram_frac
FROM ext
"""


@register("text_repetition_stats", _REPETITION_SQL)
def text_repetition_stats(spark, sf_dir):
    """Gopher/C4-style repetition signals (distinct-word ratio, top word /
    bigram fractions) — the boilerplate/degeneracy filters of a
    training-data pipeline."""
    from .operators.text_analysis import repetition_stats
    return repetition_stats(_t(spark, sf_dir, "documents"))


_HASH_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(concat('split:42:', CAST(doc_id AS VARCHAR))), 1, 16))
                   AS UBIGINT) % 10000 AS INTEGER) AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@register("data_hash_split", _HASH_SPLIT_SQL)
def data_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by md5 bucket — reproducible
    across engines, task retries and corpus growth (operators/
    text_analysis.hash_split); the DuckDB oracle recomputes the identical
    buckets."""
    from .operators.text_analysis import hash_split
    return hash_split(_t(spark, sf_dir, "documents")).select("doc_id", "split")


_CONTAM_SQL = r"""
WITH sp AS (
  SELECT doc_id, text,
         CAST(CAST(concat('0x', substr(md5(concat('split:42:', CAST(doc_id AS VARCHAR))), 1, 16))
                   AS UBIGINT) % 10000 AS INTEGER) AS bucket
  FROM documents
), w AS (
  SELECT doc_id, bucket,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS words
  FROM sp
), g AS (
  SELECT doc_id, bucket,
         unnest(list_distinct([array_to_string(words[i:i+3], ' ')
                               FOR i IN range(1, len(words) - 2)])) AS ng
  FROM w
  WHERE len(words) >= 4
), h AS (
  SELECT doc_id, bucket, substr(md5(ng), 1, 16) AS hh FROM g
), tr AS (SELECT doc_id AS train_id, hh FROM h WHERE bucket < 9000),
   ev AS (SELECT doc_id AS eval_id, hh FROM h WHERE bucket >= 9000),
   tot AS (SELECT eval_id, count(*) AS eval_ngrams FROM ev GROUP BY eval_id),
   hits AS (SELECT train_id, eval_id, count(*) AS n_overlap
            FROM tr JOIN ev USING (hh) GROUP BY train_id, eval_id)
SELECT train_id, eval_id,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       CAST(eval_ngrams AS BIGINT) AS eval_ngrams,
       round(CAST(n_overlap AS DOUBLE) / eval_ngrams, 6) AS contamination_frac
FROM hits JOIN tot USING (eval_id)
"""


@register("text_contamination", _CONTAM_SQL)
def text_contamination(spark, sf_dir):
    """Benchmark-contamination detection: distinct 4-gram overlap between the
    hash_split train shard and the held-out (val+test) shard, scored as the
    covered fraction of each eval doc's n-grams. Only 64-bit md5 prefixes of
    the n-grams shuffle; the DuckDB oracle replays the identical split,
    shingling and hashing."""
    from .operators.text_analysis import contamination_check, hash_split
    d = hash_split(_t(spark, sf_dir, "documents"))
    return contamination_check(d.filter(F.col("split") == "train"),
                               d.filter(F.col("split") != "train"), n=4)


_BUDGET_SQL = r"""
WITH b AS (
  SELECT doc_id, source,
         CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                      w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT) AS n_tokens,
         md5(concat('budget:42:', CAST(doc_id AS VARCHAR))) AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM b
)
SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum <= 1000
"""


@register("text_domain_budget", _BUDGET_SQL)
def text_domain_budget(spark, sf_dir):
    """Per-domain token-budget sampling (data mixing): hash-ranked prefix of
    each source under a 1000-token cap. The engine computes the running sum
    two-phase (16 hash-prefix buckets + bucket-total stitch — the 100 TB
    shape); the oracle's single window proves the stitch is exact."""
    from .operators.text_analysis import domain_budget_sample
    return domain_budget_sample(_t(spark, sf_dir, "documents"), 1000)


_PACK_SQL = r"""
WITH RECURSIVE base AS (
  SELECT CAST(CAST(concat('0x', substr(md5(concat('pack:42:', CAST(doc_id AS VARCHAR))), 1, 16))
              AS UBIGINT) % 16 AS INTEGER) AS shard,
         CAST(doc_id AS BIGINT) AS doc_id,
         CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                      w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT) AS n_tokens
  FROM documents
), t AS MATERIALIZED (
  SELECT shard, doc_id, n_tokens,
         row_number() OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id) AS rn
  FROM base
), pack AS (
  SELECT shard, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin, n_tokens AS bin_fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.bin_fill + t.n_tokens > 512 THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.bin_fill + t.n_tokens > 512 THEN t.n_tokens ELSE p.bin_fill + t.n_tokens END
  FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT shard, doc_id, n_tokens, bin, bin_fill FROM pack
"""


def _textrank_sql(max_iter: int = 10, top_n: int = 30,
                  scale: int = 10**12, num: int = 85, den: int = 100) -> str:
    """TextRank oracle: the word-adjacency graph in SQL + the shared unrolled
    fixed-point PageRank recurrence (_pr_recurrence)."""
    head = r"""
WITH w AS MATERIALIZED (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS words
  FROM documents
), bg AS (
  SELECT unnest([{'a': least(words[i], words[i+1]),
                  'b': greatest(words[i], words[i+1])}
                 FOR i IN range(1, len(words))]) AS p
  FROM w WHERE len(words) >= 2
), e0 AS MATERIALIZED (
  SELECT p.a AS a, p.b AS b FROM bg WHERE p.a != p.b
  GROUP BY p.a, p.b HAVING count(*) >= 2
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL SELECT b AS src, a AS dst FROM e0
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
od AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
""" + f"r0 AS (SELECT node, {scale} // nn.n AS r FROM nodes, nn)"
    return (head + _pr_recurrence(max_iter, scale, num, den) + f"""
SELECT node AS keyword, CAST(r AS BIGINT) AS rank_scaled FROM r{max_iter}
QUALIFY row_number() OVER (ORDER BY r DESC, node ASC) <= {top_n}""")


@register("text_textrank_keywords", _textrank_sql())
def text_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction: fixed-point PageRank over the corpus
    word-adjacency graph, top-30 (operators/text_analysis.textrank_keywords).
    Integer recurrence => bit-identical ranks in both engines."""
    from .operators.text_analysis import textrank_keywords
    return textrank_keywords(_t(spark, sf_dir, "documents"))


@register("data_pack_sequences", _PACK_SQL)
def data_pack_sequences(spark, sf_dir):
    """Deterministic next-fit sequence packing into 512-token bins, sharded
    16 ways by portable hash (operators/packing.py). The per-shard linear
    recurrence is replayed exactly by the oracle's recursive CTE, so bin
    assignments AND running fills are value-hash-compared."""
    from .operators.packing import pack_sequences
    return pack_sequences(_t(spark, sf_dir, "documents"), max_tokens=512)


_PRETOK_SQL = r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_pretokens,
       CAST(len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z]+'))) AS BIGINT) AS n_alpha,
       CAST(len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS n_digit,
       md5(array_to_string(toks, chr(31))) AS tok_fp
FROM t
"""


@register("text_pretokenize", _PRETOK_SQL)
def text_pretokenize(spark, sf_dir):
    """BPE-style pre-tokenization (functions/text.pretokenize): exact letter
    / digit / punctuation-run segmentation — the reproducible unit count a
    training pipeline budgets by. The full token stream is fingerprinted so
    the oracle verifies the segmentation itself, not just counts. One
    codegen'd map-side scan."""
    from .functions.text import pretokenize
    toks = pretokenize(F.col("text"))
    d = _t(spark, sf_dir, "documents").select("doc_id", toks.alias("_t"))
    return d.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_pretokens"),
        F.size(F.filter(F.col("_t"), lambda x: x.rlike("^[A-Za-z]+$")))
        .cast("long").alias("n_alpha"),
        F.size(F.filter(F.col("_t"), lambda x: x.rlike("^[0-9]+$")))
        .cast("long").alias("n_digit"),
        F.md5(F.concat_ws("\x1f", F.col("_t"))).alias("tok_fp"))


_SCD2_SQL = """
SELECT user_id, event_id, event_type, value,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            AS BOOLEAN) AS is_current
FROM events
"""


@register("q_events_scd2", _SCD2_SQL)
def q_events_scd2(spark, sf_dir):
    """Slowly-changing-dimension type-2 history: each event opens a validity
    interval closed by the user's next event; the open interval is the
    current row. One window per user — the standard warehouse temporal-table
    materialization."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id", "event_id", "event_type", "value",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"))


_STRAT_SQL = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat('strat:42:', CAST(doc_id AS VARCHAR))), doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, source FROM r WHERE rn <= 5
"""


@register("data_stratified_sample", _STRAT_SQL)
def data_stratified_sample(spark, sf_dir):
    """Exact-quota stratified sampling: 5 hash-ranked docs per source
    (operators/text_analysis.stratified_sample) — the balanced-eval-set
    builder fraction sampling can't provide."""
    from .operators.text_analysis import stratified_sample
    return stratified_sample(_t(spark, sf_dir, "documents"), 5) \
        .select("doc_id", "source")


_COHORT_SQL = """
WITH f AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS first_day FROM events
  GROUP BY user_id
), c AS (
  SELECT user_id, date_trunc('week', first_day) AS cohort_week FROM f
), act AS (
  SELECT DISTINCT e.user_id, c.cohort_week,
         CAST(datediff('week', c.cohort_week,
                       date_trunc('week', CAST(e.ts AS DATE))) AS BIGINT) AS week_n
  FROM events e JOIN c ON e.user_id = c.user_id
), size_ AS (
  SELECT cohort_week, count(*) AS cohort_size FROM c GROUP BY cohort_week
)
SELECT a.cohort_week, a.week_n,
       count(*) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       round(CAST(count(*) AS DOUBLE) / s.cohort_size, 6) AS retention
FROM act a JOIN size_ s ON a.cohort_week = s.cohort_week
GROUP BY a.cohort_week, a.week_n, s.cohort_size
"""


@register("q_events_cohort_retention", _COHORT_SQL)
def q_events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-activity week, then
    the fraction still active k weeks later — the standard product-analytics
    triangle. Two aggregates + one equi-join on user_id; cohort sizes join
    back as a small broadcast-eligible dim."""
    e = _t(spark, sf_dir, "events")
    # cast to date: Spark date_trunc returns timestamp, the oracle a DATE —
    # the value compare stringifies both, so the types must agree
    first = (e.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts").cast("date"))
                   .cast("date").alias("cohort_week")))
    act = (e.join(first, "user_id")
            .select("user_id", "cohort_week",
                    F.floor(F.datediff(
                        F.date_trunc("week", F.col("ts").cast("date"))
                        .cast("date"),
                        F.col("cohort_week")) / 7).cast("long")
                    .alias("week_n"))
            .distinct())
    size = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    return (act.groupBy("cohort_week", "week_n")
               .agg(F.count(F.lit(1)).alias("n_active"))
               .join(size, "cohort_week")
               .select("cohort_week", "week_n", "n_active",
                       F.col("cohort_size").cast("long").alias("cohort_size"),
                       F.round(F.col("n_active")
                               / F.col("cohort_size").cast("double"), 6)
                       .alias("retention")))


# ───────────────────────── transcripts pipeline (rows-only) ─────────────────────────

_PIPE_CONVS = 200


def _pipeline(spark):
    def build():
        from .operators.canonicalize import canonicalize_stage
        from .operators.extract import extract_stage
        from .operators.link import distinct_terms, link_stage
        from .operators.materialize import materialize_stage
        from .sources.transcripts_gen import generate_transcripts

        t = generate_transcripts(spark, _PIPE_CONVS)
        m, tr = extract_stage(t)
        m = m.cache()
        asn = canonicalize_stage(distinct_terms(m), link_stage(m))
        nodes, edges = materialize_stage(spark, m, tr, asn)
        return nodes.persist(), edges.persist()

    # memoized: the nodes and edges queries each need the same build
    return _memo(spark, ("pipeline", _PIPE_CONVS), build)


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _fuzzy_pin_sqls() -> tuple[str, str]:
    """Regression-pin oracles for the FUZZY pipeline (LSH + CC
    canonicalization): no external engine can adjudicate these semantics (the
    reference never fuzzy-merges; the deliberate divergence is P/R-gated in
    tests/test_parity.py), so the engine's own output — asserted
    parallelism-invariant at generation (scripts/gen_ref_fixture.py) — is
    pinned as VALUES to catch silent drift."""
    from . import ref_fixture

    nodes_vals = ", ".join(
        f"({_sql_str(c)}, {_sql_str(ct)}, {_sql_str(cat)}, {_sql_str(imp)},"
        f" {conf!r}, {n})"
        for c, ct, cat, imp, conf, n in ref_fixture.NODES_FUZZY)
    edges_vals = ", ".join(
        f"({_sql_str(s)}, {_sql_str(p)}, {_sql_str(o)}, {c}, {st!r}, {cf!r})"
        for s, p, o, c, st, cf in ref_fixture.EDGES_FUZZY)
    nodes_sql = (
        f"SELECT canon, canonical_term, primary_category, primary_importance,"
        f" CAST(avg_confidence AS DOUBLE) AS avg_confidence,"
        f" CAST(mention_count AS BIGINT) AS mention_count"
        f" FROM (VALUES {nodes_vals}) t(canon, canonical_term,"
        f" primary_category, primary_importance, avg_confidence, mention_count)")
    edges_sql = (
        f"SELECT subj, pred, obj, CAST(common AS BIGINT) AS common,"
        f" CAST(strength AS DOUBLE) AS strength,"
        f" CAST(confidence AS DOUBLE) AS confidence"
        f" FROM (VALUES {edges_vals}) t(subj, pred, obj, common, strength,"
        f" confidence)")
    return nodes_sql, edges_sql


_FUZZY_NODES_SQL, _FUZZY_EDGES_SQL = _fuzzy_pin_sqls()


@register("kg_pipeline_nodes", _FUZZY_NODES_SQL)  # full pipeline incl. LSH+CC
def kg_pipeline_nodes(spark, sf_dir):
    nodes, _ = _pipeline(spark)
    return nodes.select("canon", "canonical_term", "primary_category",
                        "primary_importance", "avg_confidence", "mention_count")


@register("kg_pipeline_edges", _FUZZY_EDGES_SQL)
def kg_pipeline_edges(spark, sf_dir):
    _, edges = _pipeline(spark)
    return edges.select("subj", "pred", "obj", "common", "strength", "confidence")


def _pipeline_exact(spark):
    """The deterministic (no-fuzzy) pipeline — the exact path the REFERENCE
    implements (exact + known-alias resolution only, graph_tools.py:32-152);
    its expected output is pre-computed by the reference's own functions
    (scripts/gen_ref_fixture.py → ref_fixture.py) and served to DuckDB as a
    VALUES oracle. This is the flagship-semantics hard gate."""
    def build():
        from .operators.canonicalize import canonicalize_stage
        from .operators.extract import extract_stage
        from .operators.link import distinct_terms, link_stage
        from .operators.materialize import materialize_stage
        from .sources.transcripts_gen import generate_transcripts

        t = generate_transcripts(spark, _PIPE_CONVS)
        m, tr = extract_stage(t)
        m = m.cache()
        asn = canonicalize_stage(distinct_terms(m),
                                 link_stage(m, enable_fuzzy=False))
        nodes, edges = materialize_stage(spark, m, tr, asn)
        return nodes.persist(), edges.persist()

    return _memo(spark, ("pipeline_exact", _PIPE_CONVS), build)


def _ref_fixture_sqls() -> tuple[str, str]:
    from . import ref_fixture

    nodes_vals = ", ".join(
        f"({_sql_str(c)}, {_sql_str(cat)}, {n})"
        for c, cat, n in ref_fixture.NODES)
    edges_vals = ", ".join(
        f"({_sql_str(s)}, {_sql_str(p)}, {_sql_str(o)}, {c}, {st!r}, {cf!r})"
        for s, p, o, c, st, cf in ref_fixture.EDGES)
    nodes_sql = (f"SELECT canon, first_category, CAST(mention_count AS BIGINT)"
                 f" AS mention_count FROM (VALUES {nodes_vals})"
                 f" t(canon, first_category, mention_count)")
    edges_sql = (f"SELECT subj, pred, obj, CAST(common AS BIGINT) AS common,"
                 f" CAST(strength AS DOUBLE) AS strength,"
                 f" CAST(confidence AS DOUBLE) AS confidence"
                 f" FROM (VALUES {edges_vals})"
                 f" t(subj, pred, obj, common, strength, confidence)")
    return nodes_sql, edges_sql


_REF_NODES_SQL, _REF_EDGES_SQL = _ref_fixture_sqls()


@register("kg_pipeline_nodes_exact", _REF_NODES_SQL)
def kg_pipeline_nodes_exact(spark, sf_dir):
    # CC roots components at the lexicographic min; the reference roots alias
    # groups at the alias TARGET (known_alias_resolution, graph_tools.py:
    # 120-127) — present canon in the reference's key space.
    from .config import KNOWN_ALIASES
    amap = F.create_map(*[F.lit(x) for kv in KNOWN_ALIASES.items() for x in kv])
    nodes, _ = _pipeline_exact(spark)
    return nodes.select(
        F.coalesce(amap[F.col("canon")], F.col("canon")).alias("canon"),
        "first_category",
        F.col("mention_count").cast("long").alias("mention_count"))


@register("kg_pipeline_edges_exact", _REF_EDGES_SQL)
def kg_pipeline_edges_exact(spark, sf_dir):
    _, edges = _pipeline_exact(spark)
    return edges.select("subj", "pred", "obj", "common", "strength", "confidence")


def _chunks_fixture_sql() -> str:
    """Oracle for the distributed semantic-chunk scan: the same chunk spec
    evaluated single-process over the collected transcripts
    (scripts/gen_ref_fixture.py:_chunks_single_process) — verifies the
    applyInPandas grouping, per-conversation ordering and schema against a
    Spark-free evaluation."""
    from . import ref_fixture

    vals = ", ".join(
        f"({_sql_str(c)}, {i}, {f}, {l}, {w}, {coh!r}, {t})"
        for c, i, f, l, w, coh, t in ref_fixture.CHUNKS)
    return (f"SELECT conv_id, CAST(chunk_index AS INTEGER) AS chunk_index,"
            f" CAST(first_turn_idx AS INTEGER) AS first_turn_idx,"
            f" CAST(last_turn_idx AS INTEGER) AS last_turn_idx,"
            f" CAST(n_words AS INTEGER) AS n_words,"
            f" CAST(coherence AS DOUBLE) AS coherence,"
            f" CAST(topic_cluster AS INTEGER) AS topic_cluster"
            f" FROM (VALUES {vals}) t(conv_id, chunk_index, first_turn_idx,"
            f" last_turn_idx, n_words, coherence, topic_cluster)")


@register("kg_semantic_chunks")  # oracle attached below once fixture exists
def kg_semantic_chunks(spark, sf_dir):
    from .operators.chunking import merge_small_chunks, semantic_chunks
    from .sources.transcripts_gen import generate_transcripts

    t = generate_transcripts(spark, _PIPE_CONVS)
    return merge_small_chunks(semantic_chunks(t)).select(
        "conv_id", "chunk_index", "first_turn_idx", "last_turn_idx",
        "n_words", "coherence", "topic_cluster")


try:
    ORACLE["kg_semantic_chunks"] = _chunks_fixture_sql()
except AttributeError:  # fixture generated before CHUNKS existed
    pass


_CTX_SQL = """
SELECT d.doc_id,
       CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_words
FROM documents d
WHERE len(string_split_regex(trim(d.text), '\\s+')) >= 20
  AND NOT regexp_matches(lower(d.text), '^(page |chapter )')
"""


@register("kg_substantive_filter", _CTX_SQL)
def kg_substantive_filter(spark, sf_dir):
    """The reference's substantive-chunk predicate (concept_extractor.py:
    355-378): word_count >= 20 and no header-skip pattern."""
    from .functions.text import word_count
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter((word_count(F.col("text")) >= 20)
                 & ~F.lower(F.col("text")).rlike(r"^(page |chapter )"))
        .select("doc_id", word_count(F.col("text")).cast("long").alias("n_words"))
    )


# ───────────────────────── round-4 additions ─────────────────────────

def _kcore_sql(k: int = 5, n_rounds: int = 6, min_cooc: int = 322) -> str:
    """k-core oracle: the synchronous batch-peel recurrence unrolled one
    MATERIALIZED CTE per round (the pagerank/LPA-oracle technique) — integer
    degrees only, so any engine agrees bit-for-bit. min_cooc sparsifies the
    co-occurrence graph (at the default threshold 2 the sf0.01 graph is the
    complete K15 and peeling is a no-op)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e
), a0 AS MATERIALIZED (SELECT DISTINCT node FROM bd)"""
    steps = []
    for i in range(1, n_rounds + 1):
        p = f"a{i - 1}"
        steps.append(f""",
a{i} AS MATERIALIZED (
  SELECT bd.node FROM bd
  JOIN {p} x ON bd.node = x.node JOIN {p} y ON bd.nbr = y.node
  GROUP BY bd.node HAVING count(*) >= {k}
)""")
    return (head + "".join(steps) + f"""
SELECT bd.node, CAST(count(*) AS BIGINT) AS core_deg
FROM bd JOIN a{n_rounds} x ON bd.node = x.node
JOIN a{n_rounds} y ON bd.nbr = y.node
GROUP BY bd.node""")


@register("kg_kcore_docs", _kcore_sql())
def kg_kcore_docs(spark, sf_dir):
    """k-core decomposition (k=5) of the SPARSIFIED document co-occurrence
    graph (min_cooccurrences=322 — the default-2 graph is complete at
    sf0.01): operators/graph_algos.k_core, synchronous batch peeling with
    fixed rounds so the run is deterministic under any partitioning."""
    from .operators.graph_algos import k_core
    edges = _cooc_edges(spark, sf_dir, 322)
    return k_core(edges.withColumnRenamed("term_a", "subj")
                       .withColumnRenamed("term_b", "obj"),
                  k=5, n_rounds=6)


from .operators.sketches import hll_sql as _hll_sql  # noqa: E402


@register("sketch_distinct_events", _hll_sql("events", "event_id", ["event_type"]))
def sketch_distinct_events(spark, sf_dir):
    """Cardinality sketches per event_type (operators/sketches
    .hll_kmv_distinct): deterministic HyperLogLog registers + KMV frontier,
    both md5-portable so estimates are value-identical across engines. The
    exact count rides along for the error report."""
    from .operators.sketches import hll_kmv_distinct
    return hll_kmv_distinct(_t(spark, sf_dir, "events"), "event_id",
                            ["event_type"])


_COLLOC_SQL = """
WITH base AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     w -> w != '') AS words
  FROM documents
), uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(words) AS tok FROM base) GROUP BY tok
), n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
bc AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab
  FROM (SELECT unnest([words[i] || ' ' || words[i + 1]
                       for i in range(1, len(words))]) AS bigram
        FROM base)
  GROUP BY bigram
)
SELECT bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
       (c_ab * n.n * 1000000) // (ua.c * ub.c) AS lift_e6
FROM bc
JOIN uni ua ON ua.tok = split_part(bigram, ' ', 1)
JOIN uni ub ON ub.tok = split_part(bigram, ' ', 2)
CROSS JOIN n
ORDER BY c_ab DESC, bigram LIMIT 30
"""


@register("text_collocations", _COLLOC_SQL)
def text_collocations(spark, sf_dir):
    """Bigram collocation mining with integer fixed-point lift
    (operators/text_analysis.collocations) — the KG term-extraction step."""
    from .operators.text_analysis import collocations
    return collocations(_t(spark, sf_dir, "documents"), top_n=30)


def _hybrid_sql(terms=("spark", "join", "vector"), query_vec: int = 0,
                k: int = 20, n_each: int = 50, rrf_k: int = 60) -> str:
    """Hybrid-RRF oracle: the BM25 and cosine branches are the two
    already-proven oracle queries (same literals, same parenthesization),
    and the fusion adds exactly one reciprocal + one two-operand double
    addition per row — deterministic with no extra discipline."""
    bm = _bm25_sql(terms=terms, k=n_each)
    return f"""
WITH bm AS MATERIALIZED (
  SELECT doc_id AS id, rank AS bm25_rank FROM ({bm})
), cosr AS MATERIALIZED (
  SELECT id, CAST(rank AS BIGINT) AS cos_rank FROM (
    SELECT a.vec_id AS id,
           row_number() OVER (
             ORDER BY round(list_dot_product(a.embedding::DOUBLE[], q.qv)
                   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
                      a.vec_id ASC) AS rank
    FROM embeddings a,
         (SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = {query_vec}) q
    WHERE a.vec_id != {query_vec}
  ) WHERE rank <= {n_each}
), fused AS (
  SELECT coalesce(bm.id, cosr.id) AS doc_id,
         round(coalesce(CAST(1.0 AS DOUBLE) / ({rrf_k} + bm.bm25_rank),
                        CAST(0.0 AS DOUBLE))
               + coalesce(CAST(1.0 AS DOUBLE) / ({rrf_k} + cosr.cos_rank),
                          CAST(0.0 AS DOUBLE)), 6) AS rrf_score,
         CAST(coalesce(bm.bm25_rank, 0) AS BIGINT) AS bm25_rank,
         CAST(coalesce(cosr.cos_rank, 0) AS BIGINT) AS cos_rank
  FROM bm FULL OUTER JOIN cosr ON bm.id = cosr.id
)
SELECT doc_id, rrf_score, bm25_rank, cos_rank,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {k}
"""


@register("search_hybrid_rrf", _hybrid_sql())
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid sparse+dense retrieval fused by Reciprocal Rank Fusion
    (operators/tfidf.hybrid_rrf): BM25 top-50 + cosine top-50 for the
    vec_id=0 query, 1/(60+rank) fusion."""
    from .operators.tfidf import hybrid_rrf
    return hybrid_rrf(_t(spark, sf_dir, "documents"),
                      _t(spark, sf_dir, "embeddings"),
                      ["spark", "join", "vector"], query_vec_id=0,
                      k=20, n_each=50)


_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 'view' AS stage, CAST(1 AS BIGINT) AS stage_idx, CAST(count(*) AS BIGINT) AS users FROM v
UNION ALL
SELECT 'click', CAST(2 AS BIGINT), CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT 'purchase', CAST(3 AS BIGINT), CAST(count(*) AS BIGINT) FROM p
"""


@register("q_events_funnel", _FUNNEL_SQL)
def q_events_funnel(spark, sf_dir):
    """Sequential-funnel conversion (view → click → purchase): per user the
    first view, the first click strictly after it, the first purchase
    strictly after that — each stage one equi-join + a min aggregate; no
    window state. No broadcast hint: the per-user stage tables are
    USER-cardinality, not bounded dims — AQE broadcasts them when they
    actually fit and shuffle-joins when they don't."""
    e = _t(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, "user_id").filter(F.col("ts") > F.col("t1"))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id").filter(F.col("ts") > F.col("t2"))
         .groupBy("user_id").agg(F.min("ts").alias("t3")))

    def _stage(df, name, idx):
        return df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(name).alias("stage"),
            F.lit(idx).cast("long").alias("stage_idx"),
            F.col("users").cast("long").alias("users"))

    return _stage(v, "view", 1).unionAll(_stage(c, "click", 2)) \
                               .unionAll(_stage(p, "purchase", 3))


def _components_sql(min_cooc: int = 330, n_rounds: int = 12) -> str:
    """Connected-components oracle: synchronous min-label propagation
    unrolled (label spreads one hop per round; 12 rounds covers any diameter
    of the <=15-node doc graph). The ENGINE side runs the real large-star /
    small-star operator (canonicalize.connected_components, driver path
    disabled) — both converge to the unique (member, component-min) fixed
    point, so the unrolled recurrence is a valid oracle for the SOCC'14
    algorithm without mirroring its star transformations."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
l0 AS (SELECT node, node AS lbl FROM nodes)"""
    steps = []
    for i in range(1, n_rounds + 1):
        p = f"l{i - 1}"
        steps.append(f""",
l{i} AS MATERIALIZED (
  SELECT nd.node, least(s.lbl, coalesce(nb.mn, s.lbl)) AS lbl
  FROM nodes nd
  JOIN {p} s ON s.node = nd.node
  LEFT JOIN (SELECT bd.node, min(pv.lbl) AS mn
             FROM bd JOIN {p} pv ON pv.node = bd.nbr
             GROUP BY bd.node) nb ON nb.node = nd.node
)""")
    return (head + "".join(steps)
            + f"\nSELECT node AS norm_term, lbl AS canon FROM l{n_rounds}")


@register("kg_components_docs", _components_sql())
def kg_components_docs(spark, sf_dir):
    """Weakly-connected components of the sparsified doc co-occurrence graph
    via the REAL canonicalization operator (canonicalize.connected_components
    — Kiveris et al. SOCC'14 large-star/small-star; driver_threshold=0
    forces the distributed iteration, the same code path a 10^9-edge
    candidate graph takes)."""
    from .operators.canonicalize import connected_components
    edges = _cooc_edges(spark, sf_dir, 330)
    return connected_components(
        edges.select(F.col("term_a").alias("src"), F.col("term_b").alias("dst")),
        driver_threshold=0)


from .operators.sketches import cms_sql as _cms_sql  # noqa: E402

_TOK_STREAM = ("(SELECT unnest(list_filter(string_split_regex(lower(trim(text)),"
               " '\\s+'), w -> w != '')) AS tok FROM documents)")


@register("sketch_cms_terms",
          _cms_sql(_TOK_STREAM, "tok", [t for t, _ in kg_docs.DOC_LEXICON]))
def sketch_cms_terms(spark, sf_dir):
    """Count-Min frequency estimates for the 15 lexicon terms over the full
    document token stream (operators/sketches.cms_estimate) — the d·w-row
    heavy-hitter sketch next to the exact counts it upper-bounds."""
    from .operators.sketches import cms_estimate
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                     lambda w: w != "")
    toks = docs.select(F.explode(words).alias("tok"))
    return cms_estimate(toks, "tok", [t for t, _ in kg_docs.DOC_LEXICON])


_LATEST_SQL = """
SELECT user_id, event_type AS last_event_type,
       round(value, 2) AS last_value,
       epoch_us(ts) AS last_ts_us,
       CAST(n_events AS BIGINT) AS n_events
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_events
      FROM events)
WHERE rn = 1
"""


@register("q_events_latest_by_user", _LATEST_SQL)
def q_events_latest_by_user(spark, sf_dir):
    """Latest-state upsert view (SCD-1 / MERGE-into semantics): one row per
    key = the most recent event, deterministic (ts, event_id) tiebreak —
    the compaction every CDC sink needs."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    wc = Window.partitionBy("user_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("last_event_type"),
                F.round("value", 2).alias("last_value"),
                # ts is TIMESTAMP_NTZ; the session tz is pinned UTC, so this
                # cast's epoch equals DuckDB's naive epoch_us(ts)
                F.unix_micros(F.col("ts").cast("timestamp")).alias("last_ts_us"),
                F.col("n_events").cast("long").alias("n_events"))
    )


_HIST_SQL = """
SELECT CAST(floor(value / 5.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY 1
"""


@register("q_events_value_histogram", _HIST_SQL)
def q_events_value_histogram(spark, sf_dir):
    """Fixed-width histogram binning (floor(value/width)) with decimal-exact
    per-bin sums — the profiling primitive for numeric columns."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.floor(F.col("value") / F.lit(5.0)).cast("long").alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double"), 2).alias("sum_value"))
    )


_ALIAS_CAND_SQL = """
WITH vocab AS MATERIALIZED (
  SELECT DISTINCT tok FROM (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              w -> w != '')) AS tok
    FROM documents)
)
SELECT a.tok AS word_a, b.tok AS word_b,
       CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
FROM vocab a JOIN vocab b ON a.tok < b.tok
WHERE levenshtein(a.tok, b.tok) <= 2
"""


@register("kg_alias_candidates_docs", _ALIAS_CAND_SQL)
def kg_alias_candidates_docs(spark, sf_dir):
    """Fuzzy-alias candidate generation by edit distance over the corpus
    vocabulary (the reference's typo-variant phase, entity_resolver.py
    fuzzy path, re-expressed as a bounded self-join): distinct-word
    self-join, levenshtein <= 2. Integer distances — engine-exact. At
    corpus scale the raw O(V²) pair space is pre-blocked (sorted-chars /
    length buckets, operators/link.py) — V here is tiny so the query
    exercises the unblocked kernel."""
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                     lambda w: w != "")
    vocab = docs.select(F.explode(words).alias("tok")).distinct()
    a = vocab.select(F.col("tok").alias("word_a"))
    b = vocab.select(F.col("tok").alias("word_b"))
    return (
        a.join(b, F.col("word_a") < F.col("word_b"))
        .withColumn("dist", F.levenshtein("word_a", "word_b").cast("long"))
        .filter(F.col("dist") <= 2)
        .select("word_a", "word_b", "dist")
    )


_ZSCORE_SQL = """
WITH s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(value AS DECIMAL(18,2))) AS sv,
         sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sv2
  FROM events GROUP BY event_type
), mstats AS (
  SELECT event_type, n,
         CAST(sv AS DOUBLE) / n AS mean_raw,
         sqrt((CAST(sv2 AS DOUBLE) / n)
              - ((CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n))) AS std_raw
  FROM s
)
SELECT m.event_type, m.n,
       round(m.mean_raw, 6) AS mean_value,
       round(m.std_raw, 6) AS std_value,
       CAST(count(*) FILTER (WHERE abs(e.value - m.mean_raw)
                                   > (3.0 * m.std_raw)) AS BIGINT) AS n_outliers
FROM events e JOIN mstats m ON e.event_type = m.event_type
GROUP BY m.event_type, m.n, m.mean_raw, m.std_raw
"""


@register("q_events_zscore_outliers", _ZSCORE_SQL)
def q_events_zscore_outliers(spark, sf_dir):
    """Population z-score outlier counts per group with DECIMAL-exact
    moments: sum(v) and sum(v²) accumulate as decimals (order-free), the
    mean/variance divisions and the sqrt happen once on identical doubles —
    so the 3σ comparison is bit-deterministic in both engines. Two passes:
    a tiny per-group moment table broadcast back onto the rows."""
    e = _t(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).alias("sv"), F.sum(v * v).alias("sv2"))
    mean_raw = F.col("sv").cast("double") / F.col("n")
    std_raw = F.sqrt((F.col("sv2").cast("double") / F.col("n"))
                     - (mean_raw * mean_raw))
    m = s.select("event_type", "n", mean_raw.alias("mean_raw"),
                 std_raw.alias("std_raw"))
    return (
        e.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n", "mean_raw", "std_raw")
        .agg(F.count(F.when(F.abs(F.col("value") - F.col("mean_raw"))
                            > (F.lit(3.0) * F.col("std_raw")), 1))
             .cast("long").alias("n_outliers"))
        .select("event_type", "n",
                F.round("mean_raw", 6).alias("mean_value"),
                F.round("std_raw", 6).alias("std_value"), "n_outliers")
    )


def _ppr_sql(seed: str = "spark", max_iter: int = 15, scale: int = 10**12,
             num: int = 85, den: int = 100) -> str:
    """Personalized-PageRank oracle — the pagerank_scaled(personalize=seed)
    integer recurrence unrolled (the _pagerank_sql technique): restart mass
    and dangling mass land on the seed only."""
    base = ((den - num) * scale) // den
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS src, b.term AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
),
od AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, CASE WHEN node = '{seed}' THEN {scale} ELSE 0 END AS r
       FROM nodes)"""
    steps = []
    for i in range(1, max_iter + 1):
        p = f"r{i - 1}"
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT nodes.node,
         (CASE WHEN nodes.node = '{seed}' THEN {base} ELSE 0 END)
         + ({num} * (coalesce(s.in_sum, 0)
                     + (CASE WHEN nodes.node = '{seed}' THEN dg.dang ELSE 0 END)))
           // {den} AS r
  FROM nodes
  LEFT JOIN (SELECT e.dst AS node, sum(r.r // od.deg) AS in_sum
             FROM e JOIN {p} r ON e.src = r.node JOIN od ON od.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node
  CROSS JOIN (SELECT coalesce(sum(r.r), 0) AS dang
              FROM {p} r LEFT JOIN od ON r.node = od.node
              WHERE od.node IS NULL) dg
)""")
    return (head + "".join(steps)
            + f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r{max_iter}")


@register("kg_ppr_docs", _ppr_sql())
def kg_ppr_docs(spark, sf_dir):
    """Personalized PageRank (random walk with restart, Jeh & Widom WWW'03)
    seeded at 'spark' over the doc co-occurrence graph — the 'related
    concepts' ranking primitive; fixed-point integers end-to-end
    (graph_algos.pagerank_scaled(personalize=...))."""
    from .operators.graph_algos import pagerank_scaled
    edges = _typed_edges(spark, sf_dir)
    return pagerank_scaled(edges.withColumnRenamed("term_a", "subj")
                           .withColumnRenamed("term_b", "obj"),
                           max_iter=15, personalize="spark")


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY 1
"""


@register("q_events_pivot_daily", _PIVOT_SQL)
def q_events_pivot_daily(spark, sf_dir):
    """Pivot (long→wide): daily event counts, one column per event type.
    The pivot values are EXPLICIT (no discovery pre-pass job, and the
    output schema is stable even if a day lacks a type — required for any
    incremental writer)."""
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy(F.to_date("ts").cast("string").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return out.select("day", *[F.coalesce(F.col(t), F.lit(0)).cast("long")
                               .alias(t) for t in _EVENT_TYPES])


_UNPIVOT_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""


@register("q_events_unpivot_daily", _UNPIVOT_SQL)
def q_events_unpivot_daily(spark, sf_dir):
    """Unpivot (wide→long): melts the pivoted daily table back to
    (day, event_type, n) via DataFrame.unpivot — the round trip must equal
    the direct group-by, which is exactly what the oracle computes. Zero
    cells (day × type never seen) are dropped to match."""
    wide = q_events_pivot_daily(spark, sf_dir)
    return (
        wide.unpivot("day", _EVENT_TYPES, "event_type", "n")
        .filter(F.col("n") > 0)
        .select("day", "event_type", F.col("n").cast("long").alias("n"))
    )


_TOP_TIES_SQL = """
SELECT user_id, round(value, 2) AS value, CAST(rk AS BIGINT) AS rk
FROM (SELECT user_id, value,
             rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS rk
      FROM events)
WHERE rk <= 3
"""


@register("q_top_events_per_user_ties", _TOP_TIES_SQL)
def q_top_events_per_user_ties(spark, sf_dir):
    """Top-3 per group with TIES (rank(), not row_number()): tied boundary
    values all surface, so the result set is deterministic without any
    tiebreak column — the semantics row_number-based top-k cannot give."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"))
    return (
        e.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", F.round("value", 2).alias("value"),
                F.col("rk").cast("long").alias("rk"))
    )


_STRAGG_SQL = """
WITH ranked AS (
  SELECT n.n_name, c.c_name,
         row_number() OVER (PARTITION BY n.n_name ORDER BY c.c_name) AS rn,
         count(*) OVER (PARTITION BY n.n_name) AS n_customers
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name, string_agg(c_name, ',' ORDER BY c_name) AS top_customers,
       CAST(any_value(n_customers) AS BIGINT) AS n_customers
FROM ranked WHERE rn <= 3 GROUP BY n_name
"""


@register("q_nation_top_customers_agg", _STRAGG_SQL)
def q_nation_top_customers_agg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG): the 3 lexicographically-first
    customer names per nation, comma-joined in sorted order — sort_array on
    the collected list makes the concatenation order deterministic (a bare
    collect_list is shuffle-order-dependent and would never hash-match)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.array_join(F.slice(F.sort_array(F.collect_list("c_name")), 1, 3),
                          ",").alias("top_customers"),
             F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


_MOVAVG_SQL = """
SELECT event_id, user_id,
       round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             4) AS moving_avg
FROM events
"""


@register("q_events_moving_avg", _MOVAVG_SQL)
def q_events_moving_avg(spark, sf_dir):
    """Sliding window frame (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW):
    3-row moving average per user. The frame sum is DECIMAL so incremental
    sliding-window evaluation (add/subtract) is exact — a double frame sum
    would drift differently per engine."""
    e = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-2, 0))
    return e.select(
        "event_id", "user_id",
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).over(w)
                .cast("double") / F.count(F.lit(1)).over(w),
                4).alias("moving_avg"))


_HOURLY_SQL = """
SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hh,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2
"""


@register("q_events_hourly_profile", _HOURLY_SQL)
def q_events_hourly_profile(spark, sf_dir):
    """Calendar-function profile (day-of-week × hour activity matrix).
    Numbering parity: Spark dayofweek() is 1=Sunday..7, DuckDB's 0=Sunday..6
    — the Spark side subtracts 1 to meet the oracle's convention."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy((F.dayofweek("ts") - 1).cast("long").alias("dow"),
                  F.hour("ts").cast("long").alias("hh"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.countDistinct("user_id").cast("long").alias("n_users"))
    )


_NORM_STATS_SQL = """
WITH n AS (
  SELECT label,
         CAST(round(round(sqrt(list_dot_product(embedding::DOUBLE[],
                                                embedding::DOUBLE[])), 6)
                    * 1000000.0, 0) AS BIGINT) AS nq
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round((sum(nq) / 1000000.0) / count(*), 6) AS avg_norm,
       round(min(nq) / 1000000.0, 6) AS min_norm,
       round(max(nq) / 1000000.0, 6) AS max_norm
FROM n GROUP BY label
"""


@register("q_embeddings_norm_stats", _NORM_STATS_SQL)
def q_embeddings_norm_stats(spark, sf_dir):
    """Per-label L2-norm statistics over the embedding column via
    higher-order array functions (the corpus-QA check before any ANN build:
    zero / degenerate norms surface here). Norms are 6-dp fixed-point longs
    so the mean is an exact integer sum — the repo-wide float discipline."""
    from .functions.vectors import dot
    embs = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nq = F.round(F.round(F.sqrt(dot(v, v)), 6) * F.lit(1e6), 0).cast("long")
    return (
        embs.select("label", nq.alias("nq"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
             F.round((F.sum("nq") / F.lit(1e6)) / F.count(F.lit(1)), 6)
             .alias("avg_norm"),
             F.round(F.min("nq") / F.lit(1e6), 6).alias("min_norm"),
             F.round(F.max("nq") / F.lit(1e6), 6).alias("max_norm"))
    )


def _graph_stats_sql(min_cooc: int = 330) -> str:
    """Graph-stats oracle: edge/node counts recomputed from the same
    co-occurrence CTEs, component count from the unrolled min-label CC
    (_components_sql embedded as a subquery); density / avg-degree are the
    reference's exact formulas (graph_builder.py:136-154) with identical
    float association in both engines."""
    comp = _components_sql(min_cooc=min_cooc)
    edges = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
)
SELECT a.term AS a, b.term AS b
FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
GROUP BY a.term, b.term
HAVING count(*) >= {min_cooc}"""
    return f"""
WITH cstats AS (
  SELECT CAST(count(DISTINCT norm_term) AS BIGINT) AS n_nodes,
         CAST(count(DISTINCT canon) AS BIGINT) AS n_components
  FROM ({comp})
), estats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ({edges})
)
SELECT n_nodes, n_edges,
       round(n_edges / (n_nodes * (n_nodes - 1.0)), 6) AS density,
       round((2.0 * n_edges) / n_nodes, 6) AS avg_degree,
       n_components
FROM cstats CROSS JOIN estats
"""


@register("kg_graph_stats_docs", _graph_stats_sql())
def kg_graph_stats_docs(spark, sf_dir):
    """Graph summary statistics (graph_algos.graph_stats formulas —
    reference graph_builder.py:136-154) + weakly-connected-component count
    over the sparsified doc co-occurrence graph; CC via the real
    large-star/small-star operator on its distributed path."""
    from .operators.canonicalize import connected_components
    edges = _cooc_edges(spark, sf_dir, 330)
    asn = connected_components(
        edges.select(F.col("term_a").alias("src"),
                     F.col("term_b").alias("dst")),
        driver_threshold=0)
    cstats = asn.agg(
        F.countDistinct("norm_term").cast("long").alias("n_nodes"),
        F.countDistinct("canon").cast("long").alias("n_components"))
    estats = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        cstats.crossJoin(estats)
        .select("n_nodes", "n_edges",
                F.round(F.col("n_edges")
                        / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1.0))),
                        6).alias("density"),
                F.round((F.lit(2.0) * F.col("n_edges")) / F.col("n_nodes"),
                        6).alias("avg_degree"),
                "n_components")
    )


_CHUNK_LINKS_SQL = """
SELECT doc_id,
       CAST(coalesce(lag(doc_id) OVER w, -1) AS BIGINT) AS prev_doc_id,
       CAST(coalesce(lead(doc_id) OVER w, -1) AS BIGINT) AS next_doc_id,
       CAST(row_number() OVER w AS BIGINT) AS pos
FROM documents
WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
"""


@register("kg_chunk_links_docs", _CHUNK_LINKS_SQL)
def kg_chunk_links_docs(spark, sf_dir):
    """prev/next chunk linking (the reference's chunk chain,
    operators/extract.py lag/lead pattern) expressed over the documents
    corpus partitioned by lang — sentinel -1 for chain ends so the columns
    stay non-null BIGINTs."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return d.select(
        "doc_id",
        F.coalesce(F.lag("doc_id").over(w), F.lit(-1)).cast("long")
        .alias("prev_doc_id"),
        F.coalesce(F.lead("doc_id").over(w), F.lit(-1)).cast("long")
        .alias("next_doc_id"),
        F.row_number().over(w).cast("long").alias("pos"))


def _dedup_clusters_sql(n_rounds: int = 8) -> str:
    """Dedup-cluster oracle: the n-gram-Jaccard pair query (already proven)
    feeds an unrolled min-label CC; doc ids are zero-padded so the
    string-min canon equals the numeric min."""
    head = f"""
WITH pairs AS MATERIALIZED ({_NGRAM_JACCARD_SQL}),
bd AS MATERIALIZED (
  SELECT lpad(CAST(id_a AS VARCHAR), 6, '0') AS node,
         lpad(CAST(id_b AS VARCHAR), 6, '0') AS nbr FROM pairs
  UNION
  SELECT lpad(CAST(id_b AS VARCHAR), 6, '0'),
         lpad(CAST(id_a AS VARCHAR), 6, '0') FROM pairs
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
l0 AS (SELECT node, node AS lbl FROM nodes)"""
    steps = []
    for i in range(1, n_rounds + 1):
        p = f"l{i - 1}"
        steps.append(f""",
l{i} AS MATERIALIZED (
  SELECT nd.node, least(s.lbl, coalesce(nb.mn, s.lbl)) AS lbl
  FROM nodes nd
  JOIN {p} s ON s.node = nd.node
  LEFT JOIN (SELECT bd.node, min(pv.lbl) AS mn
             FROM bd JOIN {p} pv ON pv.node = bd.nbr
             GROUP BY bd.node) nb ON nb.node = nd.node
)""")
    return (head + "".join(steps) + f"""
SELECT CAST(node AS BIGINT) AS doc_id, CAST(lbl AS BIGINT) AS cluster_rep
FROM l{n_rounds}""")


@register("dedup_clusters_docs", _dedup_clusters_sql())
def dedup_clusters_docs(spark, sf_dir):
    """Near-duplicate CLUSTER formation — pairs are not enough for corpus
    dedup (keep one doc per transitive group): n-gram-Jaccard pairs →
    connected components (the real large-star/small-star operator on its
    distributed path) → (doc_id, cluster_rep = min doc id of the group).
    Zero-padded string node ids make the component's lexicographic min the
    numeric min."""
    from .operators.canonicalize import connected_components
    from .operators.dedup import ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                threshold=0.1)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 6, "0")
    asn = connected_components(
        pairs.select(pad("id_a").alias("src"), pad("id_b").alias("dst")),
        driver_threshold=0)
    return asn.select(F.col("norm_term").cast("long").alias("doc_id"),
                      F.col("canon").cast("long").alias("cluster_rep"))


_QUARTILE_SQL = """
SELECT q, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM (SELECT value,
             CAST(ntile(4) OVER (ORDER BY value, event_id) AS BIGINT) AS q
      FROM events)
GROUP BY q
"""


@register("q_events_value_quartiles", _QUARTILE_SQL)
def q_events_value_quartiles(spark, sf_dir):
    """NTILE quartile bucketing with decimal-exact per-bucket sums. The
    global ntile is a single-partition sort — correct for the gate's data
    size; at 100 TB the same result comes from percentile cutoffs
    (approx_percentile → range bucketing), documented not silently swapped."""
    e = _t(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    return (
        e.select("value", F.ntile(4).over(w).cast("long").alias("q"))
        .groupBy("q")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double"), 2).alias("sum_value"))
    )


_MONTHLY_SQL = """
SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders GROUP BY 1
"""


@register("q_orders_monthly_revenue", _MONTHLY_SQL)
def q_orders_monthly_revenue(spark, sf_dir):
    """Calendar-bucketed reporting rollup (month granularity) with
    decimal-exact revenue sums — date_trunc + the repo-wide money
    discipline."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format(F.date_trunc("month",
                                             F.col("o_orderdate").cast("date")),
                                "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                     .cast("double"), 2).alias("revenue"))
    )


_DEGREE_DIST_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 322
), bd AS (SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM bd GROUP BY node)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""


@register("kg_degree_distribution_docs", _DEGREE_DIST_SQL)
def kg_degree_distribution_docs(spark, sf_dir):
    """Degree-distribution profile of the sparsified co-occurrence graph
    (degree → node count) — the first diagnostic of any KG build (hub
    detection, power-law check); two integer aggregates."""
    edges = _cooc_edges(spark, sf_dir, 322)
    bd = (edges.select(F.col("term_a").alias("node"))
          .unionAll(edges.select(F.col("term_b").alias("node"))))
    deg = bd.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"))


_LEN_PCTL_SQL = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(quantile_cont(n_chars, 0.25), 6) AS p25,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.75), 6) AS p75,
       round(quantile_cont(n_chars, 0.95), 6) AS p95
FROM documents GROUP BY source
"""


@register("text_length_percentiles", _LEN_PCTL_SQL)
def text_length_percentiles(spark, sf_dir):
    """Per-source document-length quantiles (corpus QA before filtering):
    Spark percentile() ≡ DuckDB quantile_cont() — both type-7 linear
    interpolation over exact integers (the q_events_quantiles recipe);
    percentile_approx is the documented 100 TB swap."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             *[F.round(F.expr(f"percentile(n_chars, {q})"), 6).alias(n)
               for q, n in [(0.25, "p25"), (0.5, "p50"),
                            (0.75, "p75"), (0.95, "p95")]])
    )


_REPEATED_NGRAMS_SQL = """
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             w -> w != '') AS words
  FROM documents
), g AS (
  SELECT doc_id,
         unnest([array_to_string(words[i:i+4], ' ')
                 for i in range(1, len(words) - 5 + 2)]) AS ngram
  FROM base WHERE len(words) >= 5
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occ DESC, n_docs DESC, ngram ASC LIMIT 50
"""


@register("text_repeated_ngrams", _REPEATED_NGRAMS_SQL)
def text_repeated_ngrams(spark, sf_dir):
    """Cross-document repeated 5-gram spans (operators/text_analysis
    .repeated_ngrams) — the substring-level dedup signal of Lee et al. 2022;
    top-50 by total occurrences with document frequency. The LIMIT boundary
    is deterministic because the sort key ends in the unique ngram string."""
    from .operators.text_analysis import repeated_ngrams
    return repeated_ngrams(_t(spark, sf_dir, "documents"),
                           n=5, min_docs=2, top_n=50)


_TEMPERATURE_SQL = """
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), w AS (
  SELECT lang, n_docs,
         CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000, 0) AS BIGINT) AS w_e6
  FROM c
), t AS (SELECT CAST(sum(w_e6) AS BIGINT) AS tot FROM w)
SELECT lang, n_docs, w_e6,
       (w_e6 * 1000000) // tot AS p_e6,
       ((w_e6 * 1000000) // tot) * 100000 // 1000000 AS planned_docs
FROM w CROSS JOIN t
"""


@register("text_temperature_weights", _TEMPERATURE_SQL)
def text_temperature_weights(spark, sf_dir):
    """Temperature-based language rebalancing (operators/text_analysis
    .temperature_weights): p_i ∝ sqrt(n_i) with a fixed-point e6 weight —
    alpha pinned at 1/2 because IEEE sqrt is correctly rounded in every
    engine (pow(x, 0.7) is not); planned doc counts for a 100k budget."""
    from .operators.text_analysis import temperature_weights
    return temperature_weights(_t(spark, sf_dir, "documents"),
                               budget_docs=100_000, group_col="lang")


from .operators.sketches import kmv_jaccard_sql as _kmv_jaccard_sql  # noqa: E402


@register("sketch_jaccard_events", _kmv_jaccard_sql("events", "user_id", "event_type"))
def sketch_jaccard_events(spark, sf_dir):
    """Pairwise audience overlap between event types via KMV synopses
    (operators/sketches.kmv_jaccard): sketch-estimated AND exact Jaccard as
    integer e6 ratios — the k-row-per-group scale path for set similarity
    (Beyer et al., SIGMOD'07)."""
    from .operators.sketches import kmv_jaccard
    return kmv_jaccard(_t(spark, sf_dir, "events"), "user_id", "event_type")


def _walks_sql(length: int = 4, seed: int = 42, min_cooc: int = 322) -> str:
    """Random-walk oracle: each deterministic hash-argmin step unrolled as
    one MATERIALIZED CTE (the k-core/pagerank-oracle technique). The step
    key min(md5('walk:{seed}:{walk_id}:{t}:{nbr}') || ':' || nbr) and the
    substr(.., 34) extraction mirror the Spark expressions byte-for-byte."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e
), w0 AS MATERIALIZED (
  SELECT DISTINCT src || '#0' AS walk_id, src AS start, src AS cur, src AS path
  FROM bd
)"""
    steps = []
    for t in range(1, length + 1):
        p = f"w{t - 1}"
        key = (f"md5('walk:{seed}:' || walk_id || ':{t}:' || bd.dst)"
               f" || ':' || bd.dst")
        steps.append(f""",
w{t} AS MATERIALIZED (
  SELECT walk_id, start,
         substr(min({key}), 34) AS cur,
         path || '>' || substr(min({key}), 34) AS path
  FROM {p} JOIN bd ON {p}.cur = bd.src
  GROUP BY walk_id, start, path
)""")
    return head + "".join(steps) + f"""
SELECT walk_id, start, path FROM w{length}"""


@register("kg_random_walks_docs", _walks_sql())
def kg_random_walks_docs(spark, sf_dir):
    """DeepWalk-style deterministic walk corpus over the sparsified doc
    co-occurrence graph (operators/graph_algos.random_walks): 4-step walks
    from every node, hash-argmin next-step choice — reproducible across
    engines/retries, the walk-corpus generator for embedding training."""
    from .operators.graph_algos import random_walks
    edges = _cooc_edges(spark, sf_dir, 322)
    return random_walks(edges.withColumnRenamed("term_a", "subj")
                             .withColumnRenamed("term_b", "obj"),
                        length=4, walks_per_node=1, seed=42)


def _ktruss_sql(k: int = 5, n_rounds: int = 6, min_cooc: int = 322) -> str:
    """k-truss oracle: the synchronous peel recurrence unrolled — per round a
    bd CTE (undirected adjacency of the surviving edges) and the triangle-
    support HAVING filter; pure integer counts, so engines agree exactly."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
)"""
    steps = []
    for i in range(n_rounds):
        steps.append(f""",
bd{i} AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e{i} UNION ALL SELECT b, a FROM e{i}
), e{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b
  FROM e{i} e
  JOIN bd{i} x ON e.a = x.u
  JOIN bd{i} y ON e.b = y.u AND x.v = y.v
  GROUP BY e.a, e.b
  HAVING count(*) >= {k - 2}
)""")
    n = n_rounds
    return head + "".join(steps) + f""",
bdf AS (SELECT a AS u, b AS v FROM e{n} UNION ALL SELECT b, a FROM e{n})
SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
FROM e{n} e
JOIN bdf x ON e.a = x.u
JOIN bdf y ON e.b = y.u AND x.v = y.v
GROUP BY e.a, e.b"""


@register("kg_ktruss_docs", _ktruss_sql())
def kg_ktruss_docs(spark, sf_dir):
    """5-truss of the sparsified doc co-occurrence graph (operators/
    graph_algos.k_truss): every surviving edge sits in >= 3 triangles of the
    surviving subgraph — the triangle-supported core of the concept graph."""
    from .operators.graph_algos import k_truss
    edges = _cooc_edges(spark, sf_dir, 322)
    return k_truss(edges.withColumnRenamed("term_a", "subj")
                        .withColumnRenamed("term_b", "obj"),
                   k=5, n_rounds=6)


def _modularity_sql(n_iters: int = 5, min_cooc: int = 322) -> str:
    """Modularity oracle: the shared LPA recurrence labels the SPARSIFIED
    graph, then the per-community Q contribution is the exact integer
    fraction (4·m·e_c − d_c², 4·m²) — no float anywhere."""
    return _lpa_ctes(n_iters, min_cooc) + f""",
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM bd GROUP BY node),
lab AS (SELECT node, label AS community FROM l{n_iters}),
ein AS (
  SELECT la.community, CAST(count(*) AS BIGINT) AS e_in
  FROM e JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b
  WHERE la.community = lb.community GROUP BY la.community
), perc AS (
  SELECT community, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(coalesce(sum(d), 0) AS BIGINT) AS d_tot
  FROM lab LEFT JOIN deg USING (node) GROUP BY community
)
SELECT p.community, p.n_nodes, coalesce(ein.e_in, 0) AS e_in, p.d_tot,
       4 * mm.m * coalesce(ein.e_in, 0) - p.d_tot * p.d_tot AS q_num,
       4 * mm.m * mm.m AS q_den
FROM perc p LEFT JOIN ein ON ein.community = p.community CROSS JOIN mm"""


@register("kg_modularity_docs", _modularity_sql())
def kg_modularity_docs(spark, sf_dir):
    """Per-community modularity components (operators/graph_algos
    .modularity) of the LPA communities on the sparsified co-occurrence
    graph — exact integer fractions, Σ q_num / q_den reconstructs Newman's
    Q bit-exactly."""
    from .operators.graph_algos import label_propagation, modularity
    edges = _cooc_edges(spark, sf_dir, 322)
    e = (edges.withColumnRenamed("term_a", "subj")
              .withColumnRenamed("term_b", "obj"))
    return modularity(e, label_propagation(e, n_iters=5))


_ASSORT_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 322
), bd AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM bd GROUP BY node),
p AS (
  SELECT du.d AS x, dv.d AS y
  FROM bd JOIN deg du ON du.node = bd.node JOIN deg dv ON dv.node = bd.nbr
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM p
)
SELECT n AS n_dir_edges, sx, sxx, sxy,
       CASE WHEN n * sxx - sx * sx != 0
            THEN round(CAST(n * sxy - sx * sx AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE), 6)
       END AS assortativity
FROM mom
"""


@register("kg_assortativity_docs", _ASSORT_SQL)
def kg_assortativity_docs(spark, sf_dir):
    """Degree assortativity of the sparsified co-occurrence graph
    (operators/graph_algos.degree_assortativity): exact integer moments,
    one final IEEE division — do hubs link to hubs?"""
    from .operators.graph_algos import degree_assortativity
    edges = _cooc_edges(spark, sf_dir, 322)
    return degree_assortativity(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"))


_LINK_SCORES_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 322
), bd AS (SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM bd GROUP BY z),
cn AS (
  SELECT e1.x AS a, e2.x AS b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM bd e1 JOIN bd e2 ON e1.z = e2.z AND e1.x < e2.x
  GROUP BY e1.x, e2.x
), miss AS (
  SELECT cn.* FROM cn ANTI JOIN e ON cn.a = e.a AND cn.b = e.b
)
SELECT ms.a, ms.b, ms.common_neighbors,
       (ms.common_neighbors * 1000000) // (da.d + db.d - ms.common_neighbors)
         AS jaccard_e6,
       da.d * db.d AS preferential_attachment
FROM miss ms JOIN deg da ON da.z = ms.a JOIN deg db ON db.z = ms.b
"""


@register("kg_link_scores_docs", _LINK_SCORES_SQL)
def kg_link_scores_docs(spark, sf_dir):
    """Integer-exact link-prediction triple (common neighbors, neighborhood
    Jaccard e6, preferential attachment) for non-adjacent pairs of the
    sparsified co-occurrence graph (operators/graph_algos
    .link_prediction_scores) — the all-integer companion to
    kg_link_prediction_docs' Adamic-Adar."""
    from .operators.graph_algos import link_prediction_scores
    edges = _cooc_edges(spark, sf_dir, 322)
    return link_prediction_scores(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"))


def _hits_sql(n_iters: int = 5, scale: int = 10**6) -> str:
    """HITS oracle: the operator's exact integer recurrence (long sums +
    renormalize-to-scale floor division — all operands positive, so Spark's
    `div` truncation == DuckDB's `//` floor) unrolled one (a,h) CTE pair per
    iteration over the doc→term bipartite mentions graph."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT CAST(d.doc_id AS VARCHAR) AS doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
),
h0 AS MATERIALIZED (SELECT DISTINCT doc_id AS h_node, {scale} AS h FROM m)"""
    steps = []
    for i in range(1, n_iters + 1):
        steps.append(f""",
a{i}raw AS MATERIALIZED (
  SELECT m.term AS a_node, sum(h.h) AS raw
  FROM m JOIN h{i - 1} h ON h.h_node = m.doc_id GROUP BY m.term),
a{i} AS MATERIALIZED (
  SELECT a_node, (raw * {scale}) // t.t AS a
  FROM a{i}raw, (SELECT sum(raw) AS t FROM a{i}raw) t),
h{i}raw AS MATERIALIZED (
  SELECT m.doc_id AS h_node, sum(a.a) AS raw
  FROM m JOIN a{i} a ON a.a_node = m.term GROUP BY m.doc_id),
h{i} AS MATERIALIZED (
  SELECT h_node, (raw * {scale}) // t.t AS h
  FROM h{i}raw, (SELECT sum(raw) AS t FROM h{i}raw) t)"""
        )
    return head + "".join(steps) + f"""
SELECT h_node AS node, 'hub' AS role, CAST(h AS BIGINT) AS score_e6
FROM h{n_iters}
UNION ALL
SELECT a_node AS node, 'authority' AS role, CAST(a AS BIGINT) AS score_e6
FROM a{n_iters}"""


@register("kg_hits_docs", _hits_sql())
def kg_hits_docs(spark, sf_dir):
    """HITS hubs-and-authorities (operators/graph_algos.hits_scaled) over the
    doc→term bipartite mentions graph: hub docs cite many authoritative
    terms, authoritative terms appear in good hub docs. Fixed-point integer
    normalization each half-iteration ⇒ bit-identical to the unrolled SQL
    recurrence regardless of partitioning."""
    from .operators.graph_algos import hits_scaled
    m = kg_docs.doc_mentions(spark, _t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "term")
    return hits_scaled(m, src="doc_id", dst="term", n_iters=5)


def _bpe_sql(n_merges: int = 12) -> str:
    """BPE oracle: the operator's exact recurrence unrolled one
    (pairs, best, vocab) CTE triple per merge. The bracket-wrapped symbol
    string makes the merge a literal replace whose non-overlapping
    left-to-right semantics are identical in DuckDB and Spark (see
    operators/bpe.py module docstring); counts are exact longs so the
    (c DESC, l, r) argmax is deterministic in both engines."""
    head = """
WITH w0 AS MATERIALIZED (
  SELECT concat('<', array_to_string(string_split(word, ''), '><'), '>')
           AS syms,
         count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
)"""
    steps = []
    for i in range(1, n_merges + 1):
        steps.append(f""",
p{i} AS MATERIALIZED (
  SELECT z[1] AS l, z[2] AS r, sum(cnt) AS c
  FROM (SELECT cnt, unnest(list_zip(toks, toks[2:])) AS z
        FROM (SELECT cnt,
                     string_split(substr(syms, 2, length(syms) - 2), '><')
                       AS toks
              FROM w{i - 1}))
  WHERE z[2] IS NOT NULL GROUP BY 1, 2),
b{i} AS MATERIALIZED (
  SELECT {i} AS merge_rank, l, r, c FROM p{i}
  ORDER BY c DESC, l, r LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT replace(w.syms, '<' || b.l || '><' || b.r || '>',
                 '<' || b.l || b.r || '>') AS syms, w.cnt
  FROM w{i - 1} w, b{i} b)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT merge_rank, l, r, c FROM b{i}" for i in range(1, n_merges + 1))
    return head + "".join(steps) + f"""
SELECT CAST(merge_rank AS BIGINT) AS merge_rank, l AS lhs, r AS rhs,
       CAST(c AS BIGINT) AS pair_count, l || r AS merged
FROM ({union})"""


@register("bpe_merges_docs", _bpe_sql())
def bpe_merges_docs(spark, sf_dir):
    """BPE tokenizer vocabulary induction (operators/bpe.bpe_train): 12
    greedy pair merges over the documents corpus word-frequency table —
    training state is the distinct-word table, every iteration one exact
    pair-count aggregate + a 1-row argmax + a literal bracket replace."""
    from .operators.bpe import bpe_train
    return bpe_train(spark, _t(spark, sf_dir, "documents"), n_merges=12)


_FREQ_SEQ_SQL = """
WITH s AS (
  SELECT user_id, event_type AS g1,
         lead(event_type, 1) OVER w AS g2,
         lead(event_type, 2) OVER w AS g3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT g1, g2, g3,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM s WHERE g3 IS NOT NULL
GROUP BY g1, g2, g3 HAVING count(DISTINCT user_id) >= 5
"""


@register("q_events_frequent_sequences", _FREQ_SEQ_SQL)
def q_events_frequent_sequences(spark, sf_dir):
    """Episode mining (operators/sequences.ngram_sequences): contiguous
    event-type trigrams per user timeline, kept when >= 5 distinct users
    exhibit them — one key-partitioned lead() window + a combinable
    support aggregate."""
    from .operators.sequences import ngram_sequences
    return ngram_sequences(_t(spark, sf_dir, "events"), n=3, min_support=5)


_MARKOV_SQL = """
WITH s AS (
  SELECT event_type AS src,
         lead(event_type, 1) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
), c AS (
  SELECT src, dst, count(*) AS n_transitions
  FROM s WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, CAST(n_transitions AS BIGINT) AS n_transitions,
       CAST((n_transitions * 1000000) //
            sum(n_transitions) OVER (PARTITION BY src) AS BIGINT) AS prob_e6
FROM c
"""


@register("q_events_markov_transitions", _MARKOV_SQL)
def q_events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix of event types per user timeline
    (operators/sequences.markov_transitions) — fixed-point P(dst|src) in
    e6 units, exact under any aggregation order."""
    from .operators.sequences import markov_transitions
    return markov_transitions(_t(spark, sf_dir, "events"))


def _msf_sql(max_hops: int = 14) -> str:
    """Maximum-spanning-forest oracle via the cycle property: under the
    unique composite strength order (w DESC, a, b) an edge belongs to the
    unique maximum spanning forest iff its endpoints are NOT connected by
    strictly-stronger edges alone. Reachability over each candidate's
    stronger-subgraph is unrolled one (frontier, seen) CTE pair per hop —
    the lexicon graph has <= 15 nodes, so 14 hops are exhaustive."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, count(*) AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= 2
), se AS MATERIALIZED (
  SELECT c.a AS ra, c.b AS rb, s.a AS src, s.b AS dst
  FROM e c JOIN e s
    ON (s.w > c.w OR (s.w = c.w AND (s.a < c.a
        OR (s.a = c.a AND s.b < c.b))))
), u AS MATERIALIZED (
  SELECT ra, rb, src, dst FROM se
  UNION ALL SELECT ra, rb, dst, src FROM se
), s0 AS MATERIALIZED (SELECT a AS ra, b AS rb, a AS node FROM e),
f0 AS (SELECT * FROM s0)"""
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(f""",
f{i} AS MATERIALIZED (
  SELECT DISTINCT p.ra, p.rb, u.dst AS node
  FROM f{i - 1} p JOIN u ON u.ra = p.ra AND u.rb = p.rb AND u.src = p.node
  WHERE NOT EXISTS (SELECT 1 FROM s{i - 1} s
                    WHERE s.ra = p.ra AND s.rb = p.rb AND s.node = u.dst)),
s{i} AS MATERIALIZED (
  SELECT * FROM s{i - 1} UNION ALL SELECT * FROM f{i})"""
        )
    return head + "".join(steps) + f"""
SELECT e.a AS term_a, e.b AS term_b, CAST(e.w AS BIGINT) AS common
FROM e
WHERE NOT EXISTS (SELECT 1 FROM s{max_hops} r
                  WHERE r.ra = e.a AND r.rb = e.b AND r.node = e.b)"""


@register("kg_max_spanning_forest_docs", _msf_sql())
def kg_max_spanning_forest_docs(spark, sf_dir):
    """KG association backbone: the unique maximum spanning forest of the
    co-occurrence graph under (common DESC, a, b) ordering, computed by
    distributed Borůvka (operators/graph_algos.max_spanning_forest) and
    checked against an independent cycle-property characterization."""
    from .operators.graph_algos import max_spanning_forest
    edges = _cooc_edges(spark, sf_dir)
    f = max_spanning_forest(edges, src="term_a", dst="term_b",
                            weight="common")
    return f.select(F.col("a").alias("term_a"), F.col("b").alias("term_b"),
                    F.col("w").alias("common"))


def _stress_sql(max_hops: int = 4, min_cooc: int = 322) -> str:
    """Stress-centrality oracle: the harmonic-centrality BFS unroll
    extended with exact path counts σ (sum of predecessor σ at first
    reach), then one triple self-join applying
    σ_st(v) = σ_sv·σ_vt when d(s,v)+d(v,t) = d(s,t)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
s0 AS MATERIALIZED (
  SELECT node AS root, node, 0 AS d, 1 AS sig FROM nodes),
f0 AS (SELECT * FROM s0)"""
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(f""",
f{i} AS MATERIALIZED (
  SELECT p.root, e.dst AS node, {i} AS d, sum(p.sig) AS sig
  FROM f{i - 1} p JOIN e ON e.src = p.node
  WHERE NOT EXISTS (SELECT 1 FROM s{i - 1} s
                    WHERE s.root = p.root AND s.node = e.dst)
  GROUP BY p.root, e.dst),
s{i} AS MATERIALIZED (
  SELECT * FROM s{i - 1} UNION ALL SELECT * FROM f{i})"""
        )
    return head + "".join(steps) + f"""
SELECT sv.node AS node,
       CAST(sum(sv.sig * vt.sig) // 2 AS BIGINT) AS stress
FROM s{max_hops} sv
JOIN s{max_hops} vt ON vt.root = sv.node AND sv.d > 0 AND vt.d > 0
JOIN s{max_hops} st ON st.root = sv.root AND st.node = vt.node
                   AND st.d = sv.d + vt.d
GROUP BY sv.node"""


@register("kg_stress_centrality_docs", _stress_sql())
def kg_stress_centrality_docs(spark, sf_dir):
    """Stress centrality (shortest-path counts through each node,
    operators/graph_algos.stress_centrality) on the sparsified
    co-occurrence graph — the integer-exact sibling of betweenness."""
    from .operators.graph_algos import stress_centrality
    edges = _cooc_edges(spark, sf_dir, 322)
    return stress_centrality(edges.withColumnRenamed("term_a", "subj")
                             .withColumnRenamed("term_b", "obj"))


def _mis_sql(max_rounds: int = 8, min_cooc: int = 322,
             salt: str = "mis") -> str:
    """MIS oracle: the Luby rounds unrolled — winners are undecided nodes
    with no higher-key undecided neighbor; the key is the identical
    zero-padded md5-u64 string both engines compute."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), u0 AS MATERIALIZED (
  SELECT node,
         lpad(CAST(CAST(concat('0x', substr(md5('{salt}:' || node), 1, 16))
                        AS UBIGINT) AS VARCHAR), 20, '0') || '|' || node AS k
  FROM (SELECT DISTINCT src AS node FROM e))"""
    steps = []
    for i in range(1, max_rounds + 1):
        steps.append(f""",
w{i} AS MATERIALIZED (
  SELECT u.node FROM u{i - 1} u
  WHERE NOT EXISTS (SELECT 1 FROM e JOIN u{i - 1} v ON e.dst = v.node
                    WHERE e.src = u.node AND v.k > u.k)),
u{i} AS MATERIALIZED (
  SELECT u.* FROM u{i - 1} u
  WHERE NOT EXISTS (SELECT 1 FROM w{i} w WHERE w.node = u.node)
    AND NOT EXISTS (SELECT 1 FROM e JOIN w{i} w ON e.dst = w.node
                    WHERE e.src = u.node))"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT node, {i} AS mis_round FROM w{i}"
        for i in range(1, max_rounds + 1))
    return head + "".join(steps) + f"""
SELECT node, CAST(mis_round AS BIGINT) AS mis_round FROM ({union})"""


@register("kg_mis_docs", _mis_sql())
def kg_mis_docs(spark, sf_dir):
    """Deterministic Luby maximal independent set on the sparsified
    co-occurrence graph (operators/graph_algos.maximal_independent_set) —
    hash-priority rounds, bit-reproducible across engines."""
    from .operators.graph_algos import maximal_independent_set
    edges = _cooc_edges(spark, sf_dir, 322)
    return maximal_independent_set(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"))


_RECONCILE_SQL = """
WITH l AS (SELECT event_id, event_type, value FROM events),
r AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 11 = 0 THEN value + 1 ELSE value END AS value
  FROM events WHERE event_id % 13 <> 0
  UNION ALL
  SELECT event_id + 10000000, event_type, value
  FROM events WHERE event_id % 17 = 0
), j AS (
  SELECT CASE WHEN l.event_id IS NULL THEN 'only_right'
              WHEN r.event_id IS NULL THEN 'only_left'
              WHEN l.event_type IS NOT DISTINCT FROM r.event_type
               AND l.value IS NOT DISTINCT FROM r.value THEN 'equal'
              ELSE 'differs' END AS status
  FROM l FULL OUTER JOIN r ON l.event_id = r.event_id
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows FROM j GROUP BY status
"""


@register("q_events_reconcile", _RECONCILE_SQL)
def q_events_reconcile(spark, sf_dir):
    """Table reconciliation (operators/audit.reconcile_tables): diff the
    events table against a deterministically mutated replica (dropped,
    perturbed and extra keys) — the migration/backfill validation pass.
    One full outer equi-join; null-safe JVM column comparison."""
    from .operators.audit import reconcile_tables
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    mutated = (ev.filter(F.col("event_id") % 13 != 0)
               .withColumn("value",
                           F.when(F.col("event_id") % 11 == 0,
                                  F.col("value") + 1)
                           .otherwise(F.col("value"))))
    extra = (ev.filter(F.col("event_id") % 17 == 0)
             .select((F.col("event_id") + 10_000_000).alias("event_id"),
                     "event_type", "value"))
    return reconcile_tables(ev, mutated.unionByName(extra), ["event_id"])


_DQ_AUDIT_SQL = """
WITH a AS (
  SELECT count(*) AS n,
         sum(CASE WHEN coalesce(value >= 0, FALSE) THEN 0 ELSE 1 END) AS v1,
         sum(CASE WHEN coalesce(value <= 100, FALSE) THEN 0 ELSE 1 END) AS v2,
         sum(CASE WHEN coalesce(event_type IN
               ('click','view','error','signup','purchase'), FALSE)
             THEN 0 ELSE 1 END) AS v3,
         sum(CASE WHEN coalesce(props IS NOT NULL, FALSE)
             THEN 0 ELSE 1 END) AS v4
  FROM events
)
SELECT t.rule, CAST(a.n AS BIGINT) AS n_rows,
       CAST(t.v AS BIGINT) AS n_violations,
       CAST((t.v * 1000000) // greatest(a.n, 1) AS BIGINT)
         AS violation_rate_e6
FROM a, LATERAL (VALUES ('value_nonneg', a.v1), ('value_le_100', a.v2),
                        ('known_type', a.v3), ('props_not_null', a.v4))
         AS t(rule, v)
"""


@register("q_events_dq_audit", _DQ_AUDIT_SQL)
def q_events_dq_audit(spark, sf_dir):
    """Rule-based data-quality audit (operators/audit.dq_audit): four
    pass-conditions over events evaluated in ONE scan as conditional sums;
    violation rates in fixed-point e6."""
    from .operators.audit import dq_audit
    ev = _t(spark, sf_dir, "events")
    rules = [
        ("value_nonneg", F.col("value") >= 0),
        ("value_le_100", F.col("value") <= 100),
        ("known_type", F.col("event_type").isin(
            "click", "view", "error", "signup", "purchase")),
        ("props_not_null", F.col("props").isNotNull()),
    ]
    return dq_audit(ev, rules)


_Q5_SQL = """
SELECT n.n_name AS nation,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                  AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


@register("q_local_supplier_volume", _Q5_SQL)
def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: six-table join with a region filter and the
    local-supplier equality (customer and supplier share a nation) — the
    canonical Catalyst join-reordering exercise. Only the genuinely
    bounded dims (nation 25, region 5 rows) get broadcast hints; AQE
    decides the rest. Money sums are decimal-exact then rounded once."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .filter((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01"))
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == l.l_suppkey)
              & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


def _zorder_sql_query() -> str:
    from .functions.layout import zorder_sql
    z = zorder_sql("user_id", "CAST(floor(value) AS BIGINT)", bits=16)
    return f"""
SELECT event_id, CAST({z} AS BIGINT) AS zkey,
       CAST(({z} >> 24) AS BIGINT) AS zbucket
FROM events
"""


@register("q_events_zorder_key", _zorder_sql_query())
def q_events_zorder_key(spark, sf_dir):
    """Morton/Z-order locality key over (user_id, floor(value))
    (functions/layout.zorder_key) — the write-side layout key that makes
    parquet min/max stats prune two-dimensional predicates. Pure codegen
    bit arithmetic, bit-identical across engines."""
    from .functions.layout import zorder_key
    ev = _t(spark, sf_dir, "events")
    z = zorder_key(F.col("user_id"),
                   F.floor(F.col("value")).cast("long"), bits=16)
    return ev.select("event_id", z.alias("zkey"),
                     F.shiftright(z, 24).alias("zbucket"))


def _pca_fixture_sql() -> str:
    """PCA oracle — the power iteration is deterministic end-to-end
    (fixed-point cross-row sums, sequential per-row folds, driver math the
    fixture mirrors line-for-line), so the expected loadings/eigenvalue are
    re-evaluated single-process in plain Python
    (scripts/gen_pca_fixture.py) and served as scale-keyed VALUES."""
    from .pca_fixture import PCA_TOP
    vals = ", ".join(
        f"({_SF_EVENT_ROWS[sf]}, {j}, {le}, {ee})"
        for sf, rows in PCA_TOP.items() if sf in _SF_EVENT_ROWS
        for j, le, ee in rows)
    return (f"SELECT CAST(dim_idx AS BIGINT) AS dim_idx,"
            f" CAST(loading_e6 AS BIGINT) AS loading_e6,"
            f" CAST(eigenvalue_e6 AS BIGINT) AS eigenvalue_e6"
            f" FROM (VALUES {vals}) t(ev, dim_idx, loading_e6, eigenvalue_e6)"
            f" WHERE ev = (SELECT count(*) FROM events)")


@register("ann_pca_top_component", _pca_fixture_sql())
def ann_pca_top_component(spark, sf_dir):
    """Top principal component of the embeddings (operators/pca
    .top_component): distributed power iteration with exact fixed-point
    cross-row sums — dimensionality-reduction/drift primitive, checked
    against an independent single-process re-evaluation."""
    from .operators.pca import top_component
    return top_component(_t(spark, sf_dir, "embeddings"))


_INTERVAL_OVERLAP_SQL = """
WITH sess AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         epoch_us(min(ts)) AS s_start,
         epoch_us(max(ts)) AS s_end
  FROM events GROUP BY 1, 2
), err AS (
  SELECT event_id AS err_id,
         epoch_us(ts) - 300000000 AS e_start,
         epoch_us(ts) + 300000000 AS e_end
  FROM events WHERE event_type = 'error'
)
SELECT s.user_id, s.day, CAST(count(*) AS BIGINT) AS n_error_overlaps
FROM sess s JOIN err e
  ON s.s_start <= e.e_end AND e.e_start <= s.s_end
GROUP BY s.user_id, s.day
"""


@register("q_events_interval_overlap", _INTERVAL_OVERLAP_SQL)
def q_events_interval_overlap(spark, sf_dir):
    """Interval-overlap join (operators/asof.interval_overlap_join): daily
    user sessions × ±5-minute error windows — grid-cell binned equi-join
    that emits each pair exactly once (overlap-start cell), vs the naive
    theta join the oracle runs. Microsecond epochs keep both engines
    integer-exact. Per (user, day): overlapping error count."""
    from .operators.asof import interval_overlap_join
    ev = _t(spark, sf_dir, "events")
    # microsecond epochs: exact integers on both engines (unix_seconds
    # floors while DuckDB's epoch() cast rounds — sub-second mismatch)
    ts = F.unix_micros(F.col("ts").cast("timestamp"))
    sess = (ev.groupBy("user_id",
                       F.date_trunc("day", "ts").cast("date").alias("day"))
            .agg(F.min(ts).alias("s_start"), F.max(ts).alias("s_end")))
    err = (ev.filter(F.col("event_type") == "error")
           .select(F.col("event_id").alias("err_id"),
                   (ts - 300_000_000).alias("e_start"),
                   (ts + 300_000_000).alias("e_end")))
    pairs = interval_overlap_join(sess, err, "s_start", "s_end",
                                  "e_start", "e_end",
                                  bin_width=86_400_000_000)
    return (pairs.groupBy("user_id", "day")
            .agg(F.count(F.lit(1)).alias("n_error_overlaps")))


def _sssp_sql(rounds: int = 6, min_cooc: int = 322,
              source: str = "vector") -> str:
    """Weighted-SSSP oracle: the Bellman-Ford relaxation unrolled — each
    round a union of kept distances and edge-relaxed candidates, min per
    node. Edge cost = 1000000 // co-occurrence ("association distance").
    `rounds` exceeds the sparsified graph's diameter; extra rounds are
    no-ops, matching the operator's converge-then-stop."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, 1000000 // count(*) AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst, w FROM e0
  UNION ALL SELECT b, a, w FROM e0
), d0 AS (SELECT '{source}' AS node, 0 AS dist)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, p.dist + e.w AS dist
    FROM d{i - 1} p JOIN e ON e.src = p.node
  ) GROUP BY node)"""
        )
    return head + "".join(steps) + f"""
SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}"""


@register("kg_sssp_docs", _sssp_sql())
def kg_sssp_docs(spark, sf_dir):
    """Weighted shortest paths from 'vector' over the sparsified
    co-occurrence graph with cost = 1e6 // common (strong associations are
    short hops) — distributed Bellman-Ford
    (operators/graph_algos.weighted_sssp), exact integer distances."""
    from .operators.graph_algos import weighted_sssp
    edges = _cooc_edges(spark, sf_dir, 322)
    e = edges.select(F.col("term_a").alias("subj"),
                     F.col("term_b").alias("obj"),
                     F.expr("(1000000L div common)").alias("w"))
    return weighted_sssp(e, source="vector", weight="w")


_WINDOW_DISTINCT_SQL = """
SELECT event_id, user_id,
       CAST(count(DISTINCT event_type) OVER
         (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS distinct_types_5
FROM events
"""


@register("q_events_window_distinct", _WINDOW_DISTINCT_SQL)
def q_events_window_distinct(spark, sf_dir):
    """Rolling distinct count (behavioral diversity): distinct event types
    in each user's trailing 5-event window. Spark windows don't support
    DISTINCT aggregates, so this is size(collect_set) over the frame —
    set-semantics state bounded by the frame length."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, 0))
    return ev.select(
        "event_id", "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("long")
        .alias("distinct_types_5"))


_TWA_SQL = """
WITH s AS (
  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
         epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
  FROM events
), seg AS (
  SELECT user_id, v, t, t_next FROM s WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(max(t_next) - min(t) AS BIGINT) AS span_us,
       round(CAST(sum(v * (t_next - t)) / (max(t_next) - min(t))
                  AS DOUBLE), 6) AS time_weighted_avg
FROM seg GROUP BY user_id
"""


@register("q_events_time_weighted_avg", _TWA_SQL)
def q_events_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per user (metrics semantics: each
    reading holds until the next one): decimal value × exact microsecond
    duration summed exactly, ONE IEEE division at the end then round —
    the step-interpolation aggregate monitoring systems use."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("user_id",
                  F.col("value").cast("decimal(18,2)").alias("v"),
                  t.alias("t"), F.lead(t).over(w).alias("t_next"))
    seg = s.filter(F.col("t_next").isNotNull())
    return (seg.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_segments"),
                 (F.max("t_next") - F.min("t")).alias("span_us"),
                 F.round((F.sum(F.col("v") * (F.col("t_next") - F.col("t")))
                          / (F.max("t_next") - F.min("t"))).cast("double"),
                         6).alias("time_weighted_avg")))


_CUBE_SQL = """
SELECT event_type, CAST(dow AS BIGINT) AS dow,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM (SELECT event_type, dayofweek(ts) AS dow, value FROM events)
GROUP BY CUBE (event_type, dow)
"""


@register("q_events_cube", _CUBE_SQL)
def q_events_cube(spark, sf_dir):
    """CUBE grouping sets (all four margins of event_type × day-of-week) —
    the grouping-sets family member beyond q_rollup_orders. DuckDB
    dayofweek == Spark dayofweek-1 (Sun=1 in Spark, 0 in DuckDB), aligned
    by subtracting one Spark-side."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_type",
                     (F.dayofweek("ts") - 1).cast("long").alias("dow"),
                     F.col("value").cast("decimal(18,2)").alias("v"))
    return (base.cube("event_type", "dow")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("v").cast("double"), 2).alias("total")))


_PARETO_SQL = """
WITH up AS (
  SELECT user_id, count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS total_value
  FROM events GROUP BY user_id
), pts AS (
  SELECT DISTINCT n_events AS x, total_value AS y FROM up
)
SELECT CAST(p.x AS BIGINT) AS x, p.y AS y
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
"""


@register("q_events_pareto_users", _PARETO_SQL)
def q_events_pareto_users(spark, sf_dir):
    """Pareto frontier of users over (event count, decimal-exact total
    value) — operators/pareto.pareto_frontier_2d: per-x max-y collapse then
    a two-phase bucketed running max, vs the oracle's quadratic NOT EXISTS
    dominance check."""
    from .operators.pareto import pareto_frontier_2d
    ev = _t(spark, sf_dir, "events")
    up = (ev.groupBy("user_id")
          .agg(F.count(F.lit(1)).alias("n_events"),
               F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                       .cast("double"), 2).alias("total_value")))
    return (pareto_frontier_2d(up, "n_events", "total_value",
                               bucket_width=16)
            .select(F.col("x").cast("long").alias("x"), "y"))


_CDC_SQL = """
WITH p AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 17 <> 3
), c AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 19 = 0 THEN value * 2 ELSE value END AS value
  FROM events WHERE event_id % 23 <> 5
)
SELECT coalesce(p.event_id, c.event_id) AS event_id,
       CASE WHEN p.event_id IS NULL THEN 'insert'
            WHEN c.event_id IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       p.event_type AS before_event_type, p.value AS before_value,
       c.event_type AS after_event_type, c.value AS after_value
FROM p FULL OUTER JOIN c ON p.event_id = c.event_id
WHERE p.event_id IS NULL OR c.event_id IS NULL
   OR NOT (p.event_type IS NOT DISTINCT FROM c.event_type
           AND p.value IS NOT DISTINCT FROM c.value)
"""


@register("q_events_snapshot_cdc", _CDC_SQL)
def q_events_snapshot_cdc(spark, sf_dir):
    """CDC extraction between two snapshots (operators/audit.snapshot_cdc):
    the minimal insert/update/delete stream with before/after values that
    replays snapshot A into snapshot B — one full outer equi-join."""
    from .operators.audit import snapshot_cdc
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "value")
    prev = ev.filter(F.col("event_id") % 17 != 3)
    curr = (ev.filter(F.col("event_id") % 23 != 5)
            .withColumn("value",
                        F.when(F.col("event_id") % 19 == 0,
                               F.col("value") * 2)
                        .otherwise(F.col("value"))))
    return snapshot_cdc(prev, curr, ["event_id"])


_GOLDEN_SQL = """
WITH longest AS (
  SELECT source, text AS text FROM (
    SELECT source, text,
           row_number() OVER (PARTITION BY source
                              ORDER BY length(text) DESC, text DESC) AS rn
    FROM documents) WHERE rn = 1
), extrema AS (
  SELECT source, max(n_chars) AS n_chars, min(doc_id) AS doc_id
  FROM documents GROUP BY source
), major AS (
  SELECT source, lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY count(*) DESC, lang ASC) AS rn
    FROM documents GROUP BY source, lang) WHERE rn = 1
)
SELECT e.source, l.text, e.n_chars, e.doc_id, m.lang
FROM extrema e JOIN longest l ON l.source = e.source
JOIN major m ON m.source = e.source
"""


@register("kg_golden_records_docs", _GOLDEN_SQL)
def kg_golden_records_docs(spark, sf_dir):
    """Survivorship merge per duplicate cluster (operators/audit
    .golden_records, clusters stood in by `source`): longest text, max
    n_chars, min doc_id, majority lang — deterministic field-level rules,
    no windows on the Spark side."""
    from .operators.audit import golden_records
    docs = _t(spark, sf_dir, "documents")
    return golden_records(docs, "source", {
        "text": "longest", "n_chars": "max",
        "doc_id": "min", "lang": "majority"})


def _densest_sql(rounds: int = 10, min_cooc: int = 322) -> str:
    """Densest-subgraph oracle: the batched Charikar peel unrolled — per
    round a stats row (n, e), an exact integer peel threshold
    deg·n <= 2·e, node/edge shrink CTEs; the best prefix is picked by
    exact cross-multiplied density comparison (ties → earliest round)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), ge0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), g0 AS MATERIALIZED (
  SELECT a AS node FROM ge0 UNION SELECT b FROM ge0)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
st{i} AS MATERIALIZED (
  SELECT {i} AS rnd, (SELECT count(*) FROM g{i - 1}) AS n,
         (SELECT count(*) FROM ge{i - 1}) AS e),
d{i} AS MATERIALIZED (
  SELECT g.node, count(x.node) AS d
  FROM g{i - 1} g LEFT JOIN (SELECT a AS node FROM ge{i - 1}
                             UNION ALL SELECT b FROM ge{i - 1}) x
    ON x.node = g.node GROUP BY g.node),
p{i} AS MATERIALIZED (
  SELECT d.node FROM d{i} d, st{i} s WHERE d.d * s.n <= 2 * s.e),
g{i} AS MATERIALIZED (
  SELECT node FROM g{i - 1}
  WHERE NOT EXISTS (SELECT 1 FROM p{i} p WHERE p.node = g{i - 1}.node)),
ge{i} AS MATERIALIZED (
  SELECT * FROM ge{i - 1} e
  WHERE NOT EXISTS (SELECT 1 FROM p{i} p WHERE p.node = e.a)
    AND NOT EXISTS (SELECT 1 FROM p{i} p WHERE p.node = e.b))"""
        )
    stats_union = " UNION ALL ".join(
        f"SELECT * FROM st{i} WHERE n > 0" for i in range(1, rounds + 1))
    mem_union = " UNION ALL ".join(
        f"SELECT {i} AS rnd, node FROM g{i - 1}"
        for i in range(1, rounds + 1))
    return head + "".join(steps) + f""",
stats AS MATERIALIZED ({stats_union}),
best AS MATERIALIZED (
  SELECT * FROM stats s
  WHERE NOT EXISTS (SELECT 1 FROM stats t
                    WHERE t.e * s.n > s.e * t.n
                       OR (t.e * s.n = s.e * t.n AND t.rnd < s.rnd))),
mem AS ({mem_union})
SELECT m.node, CAST(b.n AS BIGINT) AS n_nodes, CAST(b.e AS BIGINT) AS n_edges
FROM mem m JOIN best b ON m.rnd = b.rnd"""


@register("kg_densest_subgraph_docs", _densest_sql())
def kg_densest_subgraph_docs(spark, sf_dir):
    """Densest-subgraph 2-approximation on the sparsified co-occurrence
    graph (operators/graph_algos.densest_subgraph) — the strongest
    association core, via exact-integer batched Charikar peeling."""
    from .operators.graph_algos import densest_subgraph
    edges = _cooc_edges(spark, sf_dir, 322)
    return densest_subgraph(edges.withColumnRenamed("term_a", "subj")
                            .withColumnRenamed("term_b", "obj"))


_VOCAB_GROWTH_SQL = """
WITH first_seen AS (
  SELECT word, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word
), per_bucket AS (
  SELECT first_doc // 100 AS bucket, count(*) AS new_words
  FROM first_seen GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(new_words AS BIGINT) AS new_words,
       CAST(sum(new_words) OVER (ORDER BY bucket) AS BIGINT) AS vocab_size
FROM per_bucket
"""


@register("text_vocab_growth", _VOCAB_GROWTH_SQL)
def text_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (Heaps-law diagnostics): per 100-doc bucket,
    how many never-seen-before words appear and the running vocabulary
    size. First-occurrence trick: one min-aggregate per word instead of any
    cumulative distinct scan — the curve's cumsum runs over bucket counts
    (tiny), not rows."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    words = (docs.select("doc_id",
                         F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != ""))
    first = words.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    per_bucket = (first.groupBy(
        (F.col("first_doc") / 100).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_words")))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket", "new_words",
        F.sum("new_words").over(w).alias("vocab_size"))


_LABEL_CENTROIDS_SQL = """
WITH x AS (
  SELECT label, g.i - 1 AS dim,
         CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS sv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) g(i)
)
SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
       CAST(sum(sv) // count(*) AS BIGINT) AS mean_e6,
       CAST(count(*) AS BIGINT) AS n
FROM x GROUP BY label, dim
"""


@register("ann_label_centroids", _LABEL_CENTROIDS_SQL)
def ann_label_centroids(spark, sf_dir):
    """Class prototype vectors: exact fixed-point mean embedding per label
    (the centroid-update discipline of IVF reused as a standalone
    operator) — posexplode + groupBy, order-free integer arithmetic."""
    embs = _t(spark, sf_dir, "embeddings")
    x = embs.select(
        "label",
        F.posexplode(F.transform(
            "embedding",
            lambda v: F.floor(v * F.lit(1_000_000.0) + F.lit(0.5))))
        .alias("dim", "sv"))
    return (x.groupBy(F.col("label").cast("long").alias("label"),
                      F.col("dim").cast("long").alias("dim"))
            .agg(F.expr("sum(sv) div count(1)").alias("mean_e6"),
                 F.count(F.lit(1)).alias("n")))


_PCTL_DISC_SQL = """
SELECT event_type,
       CAST(q[1] AS DOUBLE) AS p25, CAST(q[2] AS DOUBLE) AS p50,
       CAST(q[3] AS DOUBLE) AS p75, CAST(q[4] AS DOUBLE) AS p99
FROM (SELECT event_type,
             quantile_disc(value, [0.25, 0.5, 0.75, 0.99]) AS q
      FROM events GROUP BY event_type)
"""


@register("q_events_percentile_disc", _PCTL_DISC_SQL)
def q_events_percentile_disc(spark, sf_dir):
    """Discontinuous (type-1) percentiles per event type: the actual data
    value at rank ceil(p*n) — no interpolation, so the result is always a
    real observation (SLO-style percentiles). Spark has no percentile_disc;
    computed exactly via a rank window + conditional min."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = (ev.select("event_type", "value",
                        F.row_number().over(w).alias("rn"))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy("event_type"))))
    def disc(p):
        return F.min(F.when(
            F.col("rn") >= F.ceil(F.lit(p) * F.col("n")),
            F.col("value")))
    return (ranked.groupBy("event_type")
            .agg(disc(0.25).alias("p25"), disc(0.5).alias("p50"),
                 disc(0.75).alias("p75"), disc(0.99).alias("p99")))


_POSTINGS_SQL = """
WITH tf AS (
  SELECT word AS term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word, doc_id
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       array_to_string(
         (list(doc_id || ':' || tf ORDER BY tf DESC, doc_id))[1:5], ',')
         AS top_postings
FROM tf GROUP BY term
"""


@register("search_index_postings", _POSTINGS_SQL)
def search_index_postings(spark, sf_dir):
    """Search-index build: per term, document frequency and the
    impact-ordered posting list head (top-5 docs by tf, serialized
    'doc:tf' so both engines hash the same string). The full-index analog
    of tfidf.py's internal inverted index, materialized."""
    docs = _t(spark, sf_dir, "documents")
    tf = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf")))
    item = F.struct((-F.col("tf")).alias("ntf"), F.col("doc_id").alias("d"),
                    F.col("tf").alias("t"))
    return (tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.concat_ws(",", F.transform(
                     F.slice(F.array_sort(F.collect_list(item)), 1, 5),
                     lambda s: F.concat(s.d.cast("string"), F.lit(":"),
                                        s.t.cast("string"))))
                 .alias("top_postings")))


_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
), isl AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER
           (PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
  FROM days
), streaks AS (
  SELECT user_id, island, count(*) AS len, min(day) AS streak_start
  FROM isl GROUP BY user_id, island
)
SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
       min(streak_start) FILTER (
         WHERE len = (SELECT max(s2.len) FROM streaks s2
                      WHERE s2.user_id = streaks.user_id)) AS best_start
FROM streaks GROUP BY user_id
"""


@register("q_events_activity_streaks", _STREAKS_SQL)
def q_events_activity_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands: distinct active days, island key = day minus its
    rank (constant inside each consecutive run), then a max over island
    lengths (earliest start on ties)."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    days = (ev.select("user_id",
                      F.date_trunc("day", "ts").cast("date").alias("day"))
            .distinct())
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn(
        "island", F.date_sub(F.col("day"), F.row_number().over(w)))
    streaks = (isl.groupBy("user_id", "island")
               .agg(F.count(F.lit(1)).alias("len"),
                    F.min("day").alias("streak_start")))
    return (streaks.groupBy("user_id")
            .agg(F.max("len").alias("longest_streak"),
                 F.min_by("streak_start",
                          F.struct((-F.col("len")).alias("nl"),
                                   F.col("streak_start").alias("s")))
                 .alias("best_start")))


_DEDUP_EVAL_SQL = r"""
WITH w AS (
  SELECT id, CAST(concat('0x', substr(md5(word), 1, 16)) AS UBIGINT) AS h
  FROM (SELECT doc_id AS id,
               unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents)
  WHERE word != ''
), bits AS (
  SELECT id, k, sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM w, range(64) t(k) GROUP BY id, k
), sig AS (
  SELECT id, sum(CASE WHEN acc >= 0
                      THEN CAST(CAST(1 AS UBIGINT) << CAST(k AS INTEGER)
                                AS HUGEINT) ELSE 0 END) AS raw
  FROM bits GROUP BY id
), s0 AS (
  SELECT id, CAST(CASE WHEN raw >= 9223372036854775808
                       THEN raw - 18446744073709551616
                       ELSE raw END AS BIGINT) AS sim FROM sig
), s AS (SELECT min(id) AS id, sim FROM s0 GROUP BY sim),
pred AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM s a JOIN s b ON a.id < b.id
  WHERE bit_count(xor(a.sim, b.sim)) <= 3
), sh AS (
  SELECT doc_id AS id, lang AS blk,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS sset
  FROM (SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\s+') AS words
        FROM documents)
), truth AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
  WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sset, b.sset))) >= 0.3
), c AS (
  SELECT (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM pred JOIN truth USING (id_a, id_b)) AS n_hit
)
SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST((n_hit * 1000000) // greatest(n_pred, 1) AS BIGINT)
         AS precision_e6,
       CAST((n_hit * 1000000) // greatest(n_true, 1) AS BIGINT)
         AS recall_e6,
       CAST((2 * n_hit * 1000000) // greatest(n_pred + n_true, 1) AS BIGINT)
         AS f1_e6
FROM c
"""


@register("dedup_eval_docs", _DEDUP_EVAL_SQL)
def dedup_eval_docs(spark, sf_dir):
    """Evaluation harness (operators/audit.pair_eval): SimHash hamming<=3
    predictions scored against the exact 3-gram-Jaccard >= 0.3 ground
    truth — precision/recall/F1 as exact fixed-point counts (at the gate
    corpus: perfect precision, recall 0.6 — the hamming radius genuinely
    misses looser near-dups, which is the measurement's point)."""
    from .operators.audit import pair_eval
    from .operators.dedup import ngram_jaccard_pairs, simhash_near_dup_pairs
    docs = _t(spark, sf_dir, "documents")
    pred = simhash_near_dup_pairs(docs, max_hamming=3)
    truth = ngram_jaccard_pairs(docs, threshold=0.3, k=3)
    return pair_eval(pred, truth)


_MAD_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON m.event_type = e.event_type
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev
  GROUP BY event_type
)
SELECT d.event_type,
       round(d.med, 6) AS median,
       round(m.mad, 6) AS mad,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type, d.med, m.mad
"""


@register("q_events_mad_outliers", _MAD_SQL)
def q_events_mad_outliers(spark, sf_dir):
    """Robust outlier detection by median absolute deviation: per event
    type, median and MAD via the exact type-7 percentile (Spark
    percentile() ≡ DuckDB quantile_cont(), the q_events_quantiles pin),
    counting values beyond 3 robust sigmas (1.4826·MAD). Immune to the
    masking that breaks mean/stddev z-scores on heavy-tailed values."""
    from pyspark.sql import functions as F
    ev = _t(spark, sf_dir, "events")
    med = (ev.groupBy("event_type")
           .agg(F.expr("percentile(value, 0.5)").alias("med")))
    dev = (ev.join(med, "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med"))))
    mad = (dev.groupBy("event_type")
           .agg(F.expr("percentile(adev, 0.5)").alias("mad")))
    return (dev.join(mad, "event_type")
            .groupBy("event_type", "med", "mad")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1)
                       .otherwise(0)).alias("n_outliers"))
            .select("event_type", F.round("med", 6).alias("median"),
                    F.round("mad", 6).alias("mad"), "n", "n_outliers"))


_GINI_SQL = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS k
  FROM events GROUP BY user_id, event_type
), u AS (
  SELECT user_id, sum(k) AS n, sum(k * k) AS ssq,
         count(*) AS n_types
  FROM c GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(1000000 - (ssq * 1000000) // (n * n) AS BIGINT) AS gini_e6
FROM u
"""


@register("q_events_behavior_gini", _GINI_SQL)
def q_events_behavior_gini(spark, sf_dir):
    """Behavioral diversity per user as Gini impurity of the event-type
    distribution: 1 - Σp² in fixed-point e6 — the integer-exact
    alternative to Shannon entropy (whose ln is not bit-portable across
    engines). One combinable two-level aggregate."""
    ev = _t(spark, sf_dir, "events")
    c = (ev.groupBy("user_id", "event_type")
         .agg(F.count(F.lit(1)).alias("k")))
    return (c.groupBy("user_id")
            .agg(F.sum("k").alias("n"),
                 F.sum(F.col("k") * F.col("k")).alias("ssq"),
                 F.count(F.lit(1)).alias("n_types"))
            .select("user_id", F.col("n").alias("n_events"),
                    F.col("n_types").cast("long").alias("n_types"),
                    F.expr("1000000L - (ssq * 1000000L) div (n * n)")
                    .alias("gini_e6")))


_RICH_CLUB_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= 322
), deg AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node
), ks AS (SELECT DISTINCT d AS k FROM deg),
club AS (
  SELECT ks.k,
         (SELECT count(*) FROM deg WHERE deg.d > ks.k) AS n_k,
         (SELECT count(*) FROM e
          JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
          WHERE da.d > ks.k AND db.d > ks.k) AS e_k
  FROM ks
)
SELECT CAST(k AS BIGINT) AS k, CAST(n_k AS BIGINT) AS n_k,
       CAST(e_k AS BIGINT) AS e_k,
       CAST(CASE WHEN n_k >= 2
                 THEN (2 * e_k * 1000000) // (n_k * (n_k - 1))
                 ELSE 0 END AS BIGINT) AS phi_e6
FROM club WHERE n_k >= 2
"""


@register("kg_rich_club_docs", _RICH_CLUB_SQL)
def kg_rich_club_docs(spark, sf_dir):
    """Rich-club coefficient φ(k) of the sparsified co-occurrence graph:
    for each observed degree k, the density among nodes of degree > k —
    fixed-point e6 integers (do hubs preferentially interconnect?). One
    degree aggregate + a broadcast of the tiny degree table against the
    edge list per threshold."""
    edges = _cooc_edges(spark, sf_dir, 322)
    e = edges.select(F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    bd = e.select(F.col("a").alias("node")).unionByName(
        e.select(F.col("b").alias("node")))
    deg = bd.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    ks = deg.select(F.col("d").alias("k")).distinct()
    ed = (e.join(deg.select(F.col("node").alias("a"),
                            F.col("d").alias("da")), "a")
          .join(deg.select(F.col("node").alias("b"),
                           F.col("d").alias("db")), "b"))
    nk = (ks.join(deg, deg["d"] > ks["k"])
          .groupBy("k").agg(F.count(F.lit(1)).alias("n_k")))
    ek = (ks.join(ed, (ed["da"] > ks["k"]) & (ed["db"] > ks["k"]), "left")
          .groupBy("k").agg(F.count(F.col("a")).alias("e_k")))
    return (nk.join(ek, "k")
            .filter(F.col("n_k") >= 2)
            .select(F.col("k").cast("long").alias("k"),
                    F.col("n_k").cast("long").alias("n_k"),
                    F.col("e_k").cast("long").alias("e_k"),
                    F.expr("(2 * e_k * 1000000L) div (n_k * (n_k - 1))")
                    .alias("phi_e6")))


def _graph_summary_sql() -> str:
    """Graph-level report oracle: one aggregate over the bounded all-pairs
    BFS (_centrality_sql's result reused as a subquery)."""
    inner = _centrality_sql()
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(n_reached) AS BIGINT) AS n_pairs_dir,
       CAST(max(eccentricity) AS BIGINT) AS diameter,
       CAST((sum(sum_dist) * 1000000) // sum(n_reached) AS BIGINT)
         AS avg_dist_e6
FROM ({inner})"""


@register("kg_graph_summary_docs", _graph_summary_sql())
def kg_graph_summary_docs(spark, sf_dir):
    """Whole-graph health report: node count, reachable directed pairs,
    diameter (max eccentricity) and fixed-point average shortest-path
    length — one exact aggregate over harmonic_centrality's bounded
    all-pairs BFS."""
    from .operators.graph_algos import harmonic_centrality
    edges = _typed_edges(spark, sf_dir)
    c = harmonic_centrality(edges.withColumnRenamed("term_a", "subj")
                            .withColumnRenamed("term_b", "obj"))
    return c.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("n_reached").alias("n_pairs_dir"),
        F.max("eccentricity").alias("diameter"),
        F.expr("(sum(sum_dist) * 1000000L) div sum(n_reached)")
        .alias("avg_dist_e6"))


# ───────────────────────── round-5 additions ─────────────────────────

_Q3_SQL = """
SELECT l_orderkey,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2)
         AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", _Q3_SQL)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, decimal-exact revenue aggregate, top-10
    with a total order (l_orderkey is unique). Customer is the bounded dim
    at the gate but user-cardinality at scale — no broadcast hint; AQE
    decides (same rule as q_revenue_by_nation)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15 00:00:00").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp"))
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(price * (F.lit(1) - disc)).cast("double"), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def _neighbor_jaccard_sql() -> str:
    return f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), und AS MATERIALIZED (
  SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e
), deg AS (SELECT x, count(*) AS d FROM und GROUP BY x),
inter AS (
  SELECT e1.x AS a, e2.x AS b, count(*) AS i
  FROM und e1 JOIN und e2 ON e1.z = e2.z AND e1.x < e2.x
  GROUP BY e1.x, e2.x
)
SELECT a, b, CAST(i AS BIGINT) AS common_neighbors,
       round(CAST(i AS DOUBLE) / (da.d + db.d - i), 6) AS jaccard
FROM inter JOIN deg da ON da.x = a JOIN deg db ON db.x = b
"""


@register("kg_neighbor_jaccard_docs", _neighbor_jaccard_sql())
def kg_neighbor_jaccard_docs(spark, sf_dir):
    """Neighbor-set Jaccard link scores over the co-occurrence graph
    (operators/graph_algos.neighbor_jaccard) — the set-overlap complement
    of Adamic-Adar; an exact integer ratio per pair."""
    from .operators.graph_algos import neighbor_jaccard
    edges = _cooc_edges(spark, sf_dir)
    return neighbor_jaccard(edges, src="term_a", dst="term_b")


def _mmr_sql(k: int = 5, pool: int = 20) -> str:
    """Unrolled MMR oracle: the identical greedy recursion as chained CTEs —
    one (sel_i, all_i) pair per step, each step's argmax ordered by
    (rel − maxsim) DESC, id ASC over the not-yet-selected pool."""
    dd = "list_dot_product"
    head = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
rel0 AS (
  SELECT q.query_id, a.vec_id AS id,
         round({dd}(a.embedding::DOUBLE[], q.qv)
               / (sqrt({dd}(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt({dd}(q.qv, q.qv))), 6) AS rel
  FROM embeddings a, q WHERE a.vec_id != q.query_id
),
rel AS MATERIALIZED (
  SELECT query_id, id, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, id ASC) AS rn
    FROM rel0) WHERE rn <= {pool}
),
cv AS MATERIALIZED (
  SELECT r.query_id, r.id, e.embedding::DOUBLE[] AS v
  FROM rel r JOIN embeddings e ON e.vec_id = r.id
),
sims AS MATERIALIZED (
  SELECT a.query_id, a.id AS ia, b.id AS ib,
         round({dd}(a.v, b.v)
               / (sqrt({dd}(a.v, a.v)) * sqrt({dd}(b.v, b.v))), 6) AS s
  FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.id <> b.id
),
sel1 AS (
  SELECT query_id, id, round(rel * 0.5, 6) AS mmr_score, 1 AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, id ASC) AS rn
    FROM rel) WHERE rn = 1
), all1 AS (SELECT query_id, id FROM sel1)"""
    steps = []
    for i in range(2, k + 1):
        p = i - 1
        steps.append(f""",
sel{i} AS (
  SELECT query_id, id, round((rel - ms) * 0.5, 6) AS mmr_score, {i} AS rank
  FROM (
    SELECT r.query_id, r.id, r.rel, m.ms,
           row_number() OVER (PARTITION BY r.query_id
                              ORDER BY r.rel - m.ms DESC, r.id ASC) AS rn
    FROM rel r
    JOIN (SELECT s.query_id, s.ia AS id, max(s.s) AS ms
          FROM sims s JOIN all{p} t
            ON t.query_id = s.query_id AND t.id = s.ib
          GROUP BY s.query_id, s.ia) m
      ON m.query_id = r.query_id AND m.id = r.id
    LEFT JOIN all{p} x ON x.query_id = r.query_id AND x.id = r.id
    WHERE x.id IS NULL
  ) WHERE rn = 1
), all{i} AS (SELECT * FROM all{p} UNION ALL SELECT query_id, id FROM sel{i})""")
    union = "\nUNION ALL\n".join(
        f"SELECT query_id, id, mmr_score, CAST(rank AS BIGINT) AS rank FROM sel{i}"
        for i in range(1, k + 1))
    return head + "".join(steps) + "\n" + union


@register("ann_mmr_topk", _mmr_sql())
def ann_mmr_topk(spark, sf_dir):
    """Diversified retrieval: MMR re-ranking of the brute-force pool
    (operators/similarity.mmr_topk, λ=1/2, k=5 from a pool of 20)."""
    from .operators.similarity import mmr_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") < 10)
    return mmr_topk(embs, q, k=5, pool=20)


def _betweenness_sql(max_hops: int = 4, min_cooc: int = 322,
                     scale: int = 10**6) -> str:
    """Betweenness oracle: the stress BFS unroll with the σ_st floor
    division applied per ordered pair (see
    graph_algos.betweenness_centrality for why the per-pair floor is the
    operator's cross-engine-exact definition)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
s0 AS MATERIALIZED (
  SELECT node AS root, node, 0 AS d, 1 AS sig FROM nodes),
f0 AS (SELECT * FROM s0)"""
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(f""",
f{i} AS MATERIALIZED (
  SELECT p.root, e.dst AS node, {i} AS d, sum(p.sig) AS sig
  FROM f{i - 1} p JOIN e ON e.src = p.node
  WHERE NOT EXISTS (SELECT 1 FROM s{i - 1} s
                    WHERE s.root = p.root AND s.node = e.dst)
  GROUP BY p.root, e.dst),
s{i} AS MATERIALIZED (
  SELECT * FROM s{i - 1} UNION ALL SELECT * FROM f{i})"""
        )
    return head + "".join(steps) + f"""
SELECT sv.node AS node,
       CAST(sum((sv.sig * vt.sig * {scale}) // st.sig) // 2 AS BIGINT)
         AS betweenness_e6
FROM s{max_hops} sv
JOIN s{max_hops} vt ON vt.root = sv.node AND sv.d > 0 AND vt.d > 0
JOIN s{max_hops} st ON st.root = sv.root AND st.node = vt.node
                   AND st.d = sv.d + vt.d
GROUP BY sv.node"""


@register("kg_betweenness_docs", _betweenness_sql())
def kg_betweenness_docs(spark, sf_dir):
    """Fixed-point betweenness centrality on the sparsified co-occurrence
    graph (operators/graph_algos.betweenness_centrality) — completes the
    centrality battery (degree / harmonic / closeness / stress / PageRank /
    HITS) with the classic bridging-importance measure."""
    from .operators.graph_algos import betweenness_centrality
    edges = _cooc_edges(spark, sf_dir, 322)
    return betweenness_centrality(edges.withColumnRenamed("term_a", "subj")
                                  .withColumnRenamed("term_b", "obj"))


_Q6_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 2)
         AS revenue_effect,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_SQL)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: one filtered scan, decimal-exact revenue-change
    aggregate — the pushdown showcase (every predicate reaches the parquet
    scan; plan-shape guarded like q1)."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(price * disc).cast("double"), 2)
             .alias("revenue_effect"),
             F.count(F.lit(1)).alias("n_lines"))
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2)
         AS revenue
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", _Q10_SQL)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: lost revenue from returned items per customer —
    4-way join (nation broadcast, the only bounded dim), decimal-exact
    revenue, totally-ordered top-20."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(price * (F.lit(1) - disc)).cast("double"), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


_Q12_SQL = """
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


@register("q12_shipmode_priority", _Q12_SQL)
def q12_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape: one equi-join + conditional counts per group (the
    tables ship no shipmode column, so linestatus stands in as the grouping
    dimension — the operator classes exercised are identical)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"))
    )


_CLASS_WEIGHTS_SQL = """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
t AS (SELECT count(*) AS total, count(DISTINCT lang) AS k FROM documents)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       round(n / CAST(total AS DOUBLE), 6) AS share,
       CAST((total * 1000000) // (k * n) AS BIGINT) AS weight_e6
FROM c CROSS JOIN t
"""


@register("data_class_weights", _CLASS_WEIGHTS_SQL)
def data_class_weights(spark, sf_dir):
    """Inverse-frequency class-balancing weights per language — weight =
    N/(k·n_c) as a ×10⁶ integer floor (the sampling/loss-weight table every
    imbalanced-corpus trainer derives first)."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    t = d.agg(F.count(F.lit(1)).alias("total"),
              F.countDistinct("lang").alias("k"))
    return (c.crossJoin(F.broadcast(t))
            .select("lang", F.col("n").cast("long").alias("n_docs"),
                    F.round(F.col("n") / F.col("total").cast("double"), 6)
                    .alias("share"),
                    F.expr("(total * 1000000L) div (k * n)")
                    .alias("weight_e6")))


def _simrank_sql(n_iters: int = 3, min_cooc: int = 322,
                 c_num: int = 8, c_den: int = 10, scale: int = 10**12) -> str:
    """SimRank oracle: the identical integer recurrence unrolled — one
    (s_k, sym_k) CTE pair per iteration; sym_k is the symmetric closure of
    the nonzero off-diagonal state plus the implicit s(x,x)=scale
    diagonal."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS u, b.term AS v
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), adj AS MATERIALIZED (
  SELECT u, v FROM e0 UNION SELECT v, u FROM e0
), deg AS MATERIALIZED (SELECT u, count(*) AS d FROM adj GROUP BY u),
diag AS MATERIALIZED (
  SELECT u AS i, u AS j, CAST({scale} AS BIGINT) AS s FROM deg),
sym0 AS (SELECT * FROM diag)"""
    steps = []
    for k in range(1, n_iters + 1):
        steps.append(f""",
s{k} AS MATERIALIZED (
  SELECT i, j, s FROM (
    SELECT x.v AS i, y.v AS j,
           ({c_num} * sum(p.s)) // ({c_den} * da.d * db.d) AS s
    FROM sym{k - 1} p
    JOIN adj x ON x.u = p.i
    JOIN adj y ON y.u = p.j
    JOIN deg da ON da.u = x.v
    JOIN deg db ON db.u = y.v
    WHERE x.v < y.v
    GROUP BY x.v, y.v, da.d, db.d
  ) WHERE s > 0
), sym{k} AS (
  SELECT * FROM s{k} UNION ALL SELECT j, i, s FROM s{k}
  UNION ALL SELECT * FROM diag)""")
    return head + "".join(steps) + f"""
SELECT i AS a, j AS b, CAST(s AS BIGINT) AS simrank_scaled FROM s{n_iters}"""


@register("kg_simrank_docs", _simrank_sql())
def kg_simrank_docs(spark, sf_dir):
    """SimRank structural similarity on the sparsified co-occurrence graph
    (operators/graph_algos.simrank): "similar because their neighbors are
    similar" — the recursive complement of the one-hop neighbor-Jaccard
    score, integer-exact at ×10¹²."""
    from .operators.graph_algos import simrank
    edges = _cooc_edges(spark, sf_dir, 322)
    return simrank(edges.withColumnRenamed("term_a", "subj")
                   .withColumnRenamed("term_b", "obj"))


_Q13_SQL = """
WITH co AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM co GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_customer_distribution", _Q13_SQL)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: order-count distribution over ALL customers — the
    outer join is load-bearing (zero-order customers must appear as
    c_count=0, which an inner join would drop), with the order-side filter
    folded into the join condition so it cannot collapse the outer side.
    Two cascaded aggregations; the second one's key space is tiny."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    co = (c.join(o, (F.col("c_custkey") == F.col("o_custkey"))
                 & (F.col("o_orderpriority") != "5-LOW"), "left")
          .groupBy("c_custkey")
          .agg(F.count("o_orderkey").alias("c_count")))
    return (co.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
            .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
            .orderBy(F.desc("custdist"), F.desc("c_count")))


_Q14_SQL = """
SELECT round(
         CAST(100 * sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
         6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@register("q14_promo_revenue", _Q14_SQL)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promotion revenue share for one ship month. Both
    revenue sums are decimal-exact (conditional sum included); the ONLY
    float operations are the final division and round — the one pattern
    that hashes identically across engines for a ratio of sums."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    promo = F.when(F.col("p_type") == "PROMO", rev) \
             .otherwise(F.lit(0).cast("decimal(18,2)"))
    return (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .agg(F.round((F.lit(100) * F.sum(promo)).cast("double")
                         / F.sum(rev).cast("double"), 6)
                 .alias("promo_revenue_pct")))


_Q17_SQL = """
WITH pa AS (
  SELECT l_partkey AS pk, sum(CAST(l_quantity AS BIGINT)) AS sq,
         count(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa ON pk = l_partkey
WHERE p_brand = 'Brand#11'
  AND 5 * CAST(l_quantity AS BIGINT) * cnt < sq
"""


@register("q17_small_quantity_revenue", _Q17_SQL)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from orders below 20% of a part's average
    quantity. The correlated scalar subquery (per-part avg) is decorrelated
    into a groupBy + join, and the float comparison qty < 0.2*avg is
    rewritten cross-multiplied as 5*qty*cnt < sum — integer-exact, so no
    boundary row can flip between engines. The per-part aggregate is
    computed only for the brand's parts (semi-join pushdown), which at
    scale turns a full-lineitem aggregate into a pruned one."""
    parts = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    li = _t(spark, sf_dir, "lineitem")
    li_b = li.join(F.broadcast(parts.select("p_partkey")),
                   F.col("l_partkey") == F.col("p_partkey")).drop("p_partkey")
    pa = (li_b.groupBy(F.col("l_partkey").alias("pk"))
          .agg(F.sum(F.col("l_quantity").cast("long")).alias("sq"),
               F.count(F.lit(1)).alias("cnt")))
    return (li_b.join(F.broadcast(pa), F.col("l_partkey") == F.col("pk"))
            .filter(F.lit(5) * F.col("l_quantity").cast("long") * F.col("cnt")
                    < F.col("sq"))
            .agg(F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double") / F.lit(7.0), 2).alias("avg_yearly")))


_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey AS ok, sum(CAST(l_quantity AS BIGINT)) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS BIGINT)) > 150
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(total_qty AS BIGINT) AS total_qty
FROM big
JOIN orders ON o_orderkey = ok
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register("q18_large_volume_orders", _Q18_SQL)
def q18_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape: the 100 largest orders by total quantity — an
    aggregate-HAVING feeding a join back to its parent tables. The HAVING
    filter runs BEFORE the joins (the big-order key set is tiny relative
    to lineitem), so the expensive side never joins unfiltered."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (li.groupBy(F.col("l_orderkey").alias("ok"))
           .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
           .filter(F.col("total_qty") > 150))
    return (big.join(o, F.col("o_orderkey") == F.col("ok"))
            .join(c, F.col("c_custkey") == F.col("o_custkey"))
            .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                    "o_totalprice", F.col("total_qty").cast("long")
                    .alias("total_qty"))
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(100))


_Q19_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
             2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 40)
"""


@register("q19_disjunctive_revenue", _Q19_SQL)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under a disjunction of (brand, size,
    quantity) predicate groups spanning BOTH join sides — the classic
    OR-across-tables case an optimizer must not turn into a cartesian.
    The union of the three brands is pushed to the part scan as a derived
    IN-filter (implied by the disjunction), so the broadcast side prunes
    even though each disjunct alone can't be pushed below the join."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#15"))
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 20)
         & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(1, 30)
           & q.between(20, 40)))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .filter(cond)
            .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue")))


_Q22_SQL = """
WITH pos AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS total, count(*) AS cnt
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey AS cntrycode, CAST(count(*) AS BIGINT) AS numcust,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS totacctbal
FROM customer CROSS JOIN pos
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > total
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY cntrycode
"""


@register("q22_global_sales_opportunity", _Q22_SQL)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no urgent
    orders, grouped by country (nationkey stands in for the phone prefix —
    the tables ship no phone column). The global-average threshold is
    compared cross-multiplied (bal*cnt > sum, both decimal-exact) so no
    float-summation-order boundary flip is possible, and the scalar
    aggregate is a 1-row broadcast, never a shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos = (c.filter(F.col("c_acctbal") > 0.0)
           .agg(F.sum(bal).alias("total"), F.count(F.lit(1)).alias("cnt")))
    return (c.crossJoin(F.broadcast(pos))
            .filter(bal * F.col("cnt") > F.col("total"))
            .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
            .groupBy(F.col("c_nationkey").alias("cntrycode"))
            .agg(F.count(F.lit(1)).cast("long").alias("numcust"),
                 F.round(F.sum(bal).cast("double"), 2).alias("totacctbal"))
            .orderBy("cntrycode"))


_SUBSTR_SPANS_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS words
  FROM documents
), g0 AS (
  SELECT doc_id,
         unnest([{'pos': i,
                  'hh': substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16)}
                 FOR i IN range(1, len(words) - 6)]) AS u
  FROM w WHERE len(words) >= 8
), g AS (SELECT doc_id, u.pos AS pos, u.hh AS hh FROM g0),
dup AS (SELECT hh FROM g GROUP BY hh HAVING count(DISTINCT doc_id) >= 2),
d AS (SELECT doc_id, pos FROM g JOIN dup USING (hh)),
i AS (SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM d)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
FROM i GROUP BY doc_id, grp
"""


@register("dedup_substring_spans", _SUBSTR_SPANS_SQL)
def dedup_substring_spans(spark, sf_dir):
    """Substring-level exact dedup: every maximal >= 8-token span that occurs
    verbatim in >= 2 distinct documents, as 1-based inclusive token
    positions — the boilerplate-paragraph finder document-level dedup is
    blind to. Only 64-bit window hashes shuffle; the oracle replays the
    identical sliding-window hash and island merge."""
    from .operators.dedup import duplicated_spans
    return duplicated_spans(_t(spark, sf_dir, "documents"), n=8)


def _bpe_encode_sql(n_merges: int = 12) -> str:
    """Oracle for corpus BPE ENCODING: reuses _bpe_sql's merge-training CTEs
    (b1..bN are the learned merges, 1 row each), then replays the same
    literal bracket replaces over every document's words — e{i} is e{i-1}
    cross-joined with the 1-row b{i} — and counts the resulting tokens."""
    train = _bpe_sql(n_merges)
    head = train[: train.index("\nSELECT CAST(merge_rank")]
    steps = [""",
docw AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''),
e0 AS MATERIALIZED (
  SELECT doc_id, length(word) AS n_chars,
         concat('<', array_to_string(string_split(word, ''), '><'), '>')
           AS syms
  FROM docw)"""]
    for i in range(1, n_merges + 1):
        steps.append(f""",
e{i} AS MATERIALIZED (
  SELECT doc_id, n_chars,
         replace(e.syms, '<' || b.l || '><' || b.r || '>',
                 '<' || b.l || b.r || '>') AS syms
  FROM e{i - 1} e, b{i} b)""")
    return head + "".join(steps) + f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(len(string_split(substr(syms, 2, length(syms) - 2), '><')))
            AS BIGINT) AS n_bpe_tokens
FROM e{n_merges} GROUP BY doc_id"""


@register("bpe_encode_docs", _bpe_encode_sql())
def bpe_encode_docs(spark, sf_dir):
    """Corpus tokenization with the LEARNED tokenizer — the other half of
    the BPE story (bpe_merges_docs trains it): apply the 12 learned merges
    to every document (operators/bpe.bpe_encode, a map-side chain of
    literal bracket replaces, no shuffle) and report per-doc word / char /
    BPE-token counts — the fertility numbers a tokenizer is judged by."""
    from .operators.bpe import bpe_encode, bpe_train
    d = _t(spark, sf_dir, "documents")
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_train(spark, d, n_merges=12)
              .orderBy("merge_rank").collect()]
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    return (bpe_encode(d, merges)
            .filter(F.size(words) >= 1)
            .select("doc_id",
                    F.size(words).cast("long").alias("n_words"),
                    F.aggregate(words, F.lit(0).cast("long"),
                                lambda acc, w: acc + F.length(w))
                    .alias("n_chars"),
                    F.size("bpe_tokens").cast("long").alias("n_bpe_tokens")))


_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       round(CAST(sum(rev) AS DOUBLE), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
         OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("q7_volume_shipping", _Q7_SQL)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: trade volume between two nations by ship year — a
    5-way join where the pair predicate spans BOTH nation dimensions
    (pushable to each broadcast side only as the 2-nation union, like
    Q19's disjunction). Both nation joins broadcast; everything else is
    AQE-eligible equi-joins on the fact tables."""
    pair = ("NATION_12", "NATION_10")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1.filter(F.col("supp_nation").isin(*pair))),
              F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2.filter(F.col("cust_nation").isin(*pair))),
              F.col("c_nationkey") == F.col("c_nk"))
        .filter(((F.col("supp_nation") == pair[0])
                 & (F.col("cust_nation") == pair[1]))
                | ((F.col("supp_nation") == pair[1])
                   & (F.col("cust_nation") == pair[0])))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year"))


_Q8_SQL = """
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY o_year
ORDER BY o_year
"""


@register("q8_market_share", _Q8_SQL)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue sold into a
    region, by order year — an 8-way snowflake join whose ratio-of-sums is
    decimal-exact up to the single final division. Region/nation/part sides
    all broadcast; the conditional numerator keeps the non-matching rows
    (ELSE 0) so the denominator is the full regional revenue."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), "n_regionkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    num = F.when(F.col("supp_nation") == "NATION_2", rev) \
           .otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(num).cast("double")
                     / F.sum(rev).cast("double"), 6).alias("mkt_share"))
        .orderBy("o_year"))


# ──────────────── TPC-H shapes, wave 6 (no-partsupp adaptations) ────────────────
# The testdata has no partsupp table, so Q2/Q11/Q16/Q20 use lineitem's
# (l_partkey, l_suppkey) pairs as the part-supplier relation and Q21 uses
# l_shipdate ordering instead of commit/receipt dates. The operator SHAPES —
# correlated-min decorrelation, correlated-EXISTS semi-join, global-total
# scalar subquery in HAVING, nested semi-joins, EXISTS+NOT-EXISTS double
# correlation — are preserved exactly; each oracle keeps the subquery form
# DuckDB-side while the Spark side uses the decorrelated join plan, so the
# hash match proves the decorrelation is semantics-preserving.

_Q2_SQL = """
WITH eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), ps AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
  GROUP BY 1, 2
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(cost AS DOUBLE) AS supply_cost
FROM ps
JOIN part ON p_partkey = pk
JOIN eu ON s_suppkey = sk
WHERE p_type = 'LARGE' AND p_size <= 10
  AND cost = (SELECT min(cost) FROM ps ps2 WHERE ps2.pk = ps.pk)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("q2_min_cost_supplier", _Q2_SQL)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: minimum-cost supplier per part within one region.
    The correlated scalar-min subquery (min cost among the region's
    suppliers of THIS part) is decorrelated into a per-part aggregate +
    equality join-back — cost is a decimal min so the equality is exact.
    The region's supplier set is tiny and broadcast twice (once to prune
    the part-supplier aggregate's input, once to decorate the result); the
    only shuffle is the (part, supplier) aggregate, which at 100 TB is the
    partsupp-build itself and shares its partitioning with the join-back."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10))
    eu = (s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
          .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    li = _t(spark, sf_dir, "lineitem")
    ps = (li.join(F.broadcast(eu.select("s_suppkey")),
                  F.col("l_suppkey") == F.col("s_suppkey"), "leftsemi")
          .groupBy(F.col("l_partkey").alias("pk"),
                   F.col("l_suppkey").alias("sk"))
          .agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)"))
               .alias("cost")))
    minc = ps.groupBy("pk").agg(F.min("cost").alias("min_cost"))
    return (ps.join(minc.withColumnRenamed("pk", "mpk"),
                    (F.col("pk") == F.col("mpk"))
                    & (F.col("cost") == F.col("min_cost")))
            .join(F.broadcast(p), F.col("pk") == F.col("p_partkey"))
            .join(F.broadcast(eu), F.col("sk") == F.col("s_suppkey"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
                    F.col("cost").cast("double").alias("supply_cost"))
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100))


_Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q4_late_ship_priority", _Q4_SQL)
def q4_late_ship_priority(spark, sf_dir):
    """TPC-H Q4 shape: order counts by priority for orders with at least
    one line shipped more than 60 days after the order date. The correlated
    EXISTS becomes a LEFT SEMI join whose condition references BOTH sides
    (l_shipdate > o_orderdate + 60d) — Spark keeps the equi-part
    (l_orderkey = o_orderkey) as the shuffle key and evaluates the date
    predicate as a residual, so the semi-join never degenerates to a
    cartesian; the quarter filter on orders is pushed to the scan."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    return (o.join(li, (F.col("l_orderkey") == F.col("o_orderkey"))
                   & (F.col("l_shipdate")
                      > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
                   "leftsemi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
            .orderBy("o_orderpriority"))


_Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))
                      - CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS BIGINT)) AS DOUBLE), 2)
         AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


@register("q9_product_profit", _Q9_SQL)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and order year for one
    product family (cost proxied by retail price × quantity since there is
    no partsupp supplycost). Every term is decimal- or integer-exact; the
    single float appears at the final cast+round. part/supplier/nation
    broadcast; the orders join is the only big-big shuffle and it is an
    equi-join on l_orderkey — the natural co-partition key at scale."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    amount = (F.col("l_extendedprice").cast("decimal(18,2)")
              * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
              - F.col("p_retailprice").cast("decimal(18,2)")
              * F.col("l_quantity").cast("long"))
    return (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.round(F.sum(amount).cast("double"), 2).alias("profit"))
            .orderBy("nation", F.desc("o_year")))


_Q11_SQL = """
WITH asian AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), pv AS (
  SELECT l_partkey AS pk,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM asian)
  GROUP BY 1
)
SELECT pk AS p_partkey, round(CAST(val AS DOUBLE), 2) AS part_value
FROM pv
WHERE val * 1000 > (SELECT sum(val) FROM pv)
ORDER BY part_value DESC, p_partkey
"""


@register("q11_value_concentration", _Q11_SQL)
def q11_value_concentration(spark, sf_dir):
    """TPC-H Q11 shape: parts whose traded value (through one region's
    suppliers) exceeds a fixed fraction of the region's total (0.1%). The
    scalar subquery against the GLOBAL total becomes a 1-row aggregate
    cross-joined (broadcast) onto the per-part aggregate, and the float
    threshold is cross-multiplied into the exact decimal comparison
    val*1000 > total — no boundary part can flip between engines. The
    per-part aggregate is computed once and reused for both sides, so the
    lineitem scan happens once at scale (Spark reuses the shuffle via the
    cached plan subtree)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian = (s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
             .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
             .select("s_suppkey"))
    li = _t(spark, sf_dir, "lineitem")
    pv = (li.join(F.broadcast(asian),
                  F.col("l_suppkey") == F.col("s_suppkey"), "leftsemi")
          .groupBy(F.col("l_partkey").alias("pk"))
          .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
               .alias("val"))).persist()
    total = pv.agg(F.sum("val").alias("total"))
    return (pv.crossJoin(F.broadcast(total))
            .filter(F.col("val") * 1000 > F.col("total"))
            .select(F.col("pk").alias("p_partkey"),
                    F.round(F.col("val").cast("double"), 2)
                    .alias("part_value"))
            .orderBy(F.desc("part_value"), "p_partkey"))


_Q15_SQL = """
WITH revs AS (
  SELECT l_suppkey AS sk,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name,
       round(CAST(total_rev AS DOUBLE), 2) AS total_revenue
FROM revs JOIN supplier ON s_suppkey = sk
WHERE total_rev = (SELECT max(total_rev) FROM revs)
ORDER BY s_suppkey
"""


@register("q15_top_supplier", _Q15_SQL)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in a quarter.
    The revenue 'view' is one per-supplier aggregate; the scalar-max
    subquery is a 1-row broadcast and the tie-keeping equality is DECIMAL
    equality on identical sums — exact in both engines (a top-1 LIMIT
    would silently drop ties; the equality join keeps them, which is the
    point of Q15)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    revs = (li.groupBy(F.col("l_suppkey").alias("sk"))
            .agg(F.sum(rev).alias("total_rev"))).persist()
    mx = revs.agg(F.max("total_rev").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    return (revs.crossJoin(F.broadcast(mx))
            .filter(F.col("total_rev") == F.col("mx"))
            .join(F.broadcast(s), F.col("sk") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.round(F.col("total_rev").cast("double"), 2)
                    .alias("total_revenue"))
            .orderBy("s_suppkey"))


_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_name LIKE '%7')
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("q16_supplier_variety", _Q16_SQL)
def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    excluding a complaint-list of suppliers. The NOT IN becomes a LEFT
    ANTI join against the (tiny, broadcast) complaint set — safe here
    because s_suppkey is non-null by construction; a NULL-laden NOT IN
    would need the null-aware variant. The distinct aggregate is the real
    cost: Spark expands it to a two-phase (group on key+suppkey, then
    count) which partial-aggregates map-side before the shuffle."""
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7")).select("s_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(F.broadcast(bad),
                    F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
            .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").cast("long")
                 .alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"))


_Q20_SQL = """
WITH sp AS (
  SELECT l_suppkey AS sk, l_partkey AS pk,
         sum(CAST(l_quantity AS BIGINT)) AS sqty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_name LIKE 'small%')
  GROUP BY 1, 2
), tot AS (SELECT pk, sum(sqty) AS tq FROM sp GROUP BY 1)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT sk FROM sp JOIN tot USING (pk)
                    WHERE 2 * sqty > tq)
  AND s_nationkey IN (SELECT n_nationkey FROM nation
                      JOIN region ON n_regionkey = r_regionkey
                      WHERE r_name = 'ASIA')
ORDER BY s_suppkey
"""


@register("q20_dominant_shippers", _Q20_SQL)
def q20_dominant_shippers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers in one region who shipped more than half
    of a part family's yearly volume for some part. Three nested IN
    subqueries become: a broadcast semi-join pruning lineitem to the part
    family, a (part, supplier) integer aggregate, a per-part total reusing
    that aggregate, the half-share filter cross-multiplied to integers
    (2*sqty > tq), then two broadcast semi-joins onto supplier. The
    aggregate-on-aggregate reuses the (pk, sk) shuffle's output
    partitioning for the per-part rollup — one wide shuffle total."""
    small = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")))
    sp = (li.join(F.broadcast(small),
                  F.col("l_partkey") == F.col("p_partkey"), "leftsemi")
          .groupBy(F.col("l_suppkey").alias("sk"),
                   F.col("l_partkey").alias("pk"))
          .agg(F.sum(F.col("l_quantity").cast("long")).alias("sqty"))).persist()
    tot = sp.groupBy("pk").agg(F.sum("sqty").alias("tq"))
    dominant = (sp.join(tot.withColumnRenamed("pk", "tpk"),
                        F.col("pk") == F.col("tpk"))
                .filter(F.lit(2) * F.col("sqty") > F.col("tq"))
                .select("sk").distinct())
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian_nk = (n.join(F.broadcast(r),
                       F.col("n_regionkey") == F.col("r_regionkey"))
                .select("n_nationkey"))
    s = _t(spark, sf_dir, "supplier")
    return (s.join(F.broadcast(dominant),
                   F.col("s_suppkey") == F.col("sk"), "leftsemi")
            .join(F.broadcast(asian_nk),
                  F.col("s_nationkey") == F.col("n_nationkey"), "leftsemi")
            .select("s_suppkey", "s_name")
            .orderBy("s_suppkey"))


_Q21_SQL = """
SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate >= l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("q21_sole_blockers", _Q21_SQL)
def q21_sole_blockers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE latest shipper on
    multi-supplier finished orders (shipdate stands in for the missing
    commit/receipt dates). The EXISTS + NOT-EXISTS double correlation is
    decorrelated into ONE windowed pass over (order, supplier, max ship):
    a supplier blocks an order iff the order has >1 suppliers and exactly
    one supplier attains the order's max ship date — provably the same
    predicate as the subquery pair (S's latest date strictly dominates
    every other supplier's ⟺ no other supplier shipped ≥ any of S's
    dates' max ⟺ the NOT EXISTS). One shuffle on l_orderkey replaces two
    correlated scans of lineitem — the classic Q21 rewrite that matters at
    100 TB, where the naive plan re-reads the fact table twice."""
    o_f = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    per = (li.join(o_f, F.col("l_orderkey") == F.col("o_orderkey"), "leftsemi")
           .groupBy("l_orderkey", "l_suppkey")
           .agg(F.max("l_shipdate").alias("supp_max")))
    w = Window.partitionBy("l_orderkey")
    per = (per.withColumn("omax", F.max("supp_max").over(w))
           .withColumn("nsupp", F.count(F.lit(1)).over(w))
           .withColumn("at_max", F.sum(
               F.when(F.col("supp_max") == F.col("omax"), 1)
               .otherwise(0)).over(w)))
    blockers = per.filter((F.col("nsupp") > 1) & (F.col("at_max") == 1)
                          & (F.col("supp_max") == F.col("omax")))
    s = _t(spark, sf_dir, "supplier")
    return (blockers.join(F.broadcast(s),
                          F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name")
            .limit(100))


_SCC_SQL_TPL = """
WITH RECURSIVE pos AS (
  SELECT doc_id, term,
         list_position(string_split(text, ' '), term) AS fp
  FROM documents, {lex}
  WHERE list_position(string_split(text, ' '), term) > 0
),
cnt AS (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.fp < b.fp
  GROUP BY 1, 2
),
de AS (
  SELECT c1.src, c1.dst
  FROM cnt c1 JOIN cnt c2 ON c1.src = c2.dst AND c1.dst = c2.src
  WHERE c1.w >= c2.w + 12
),
verts AS (SELECT DISTINCT src AS v FROM de
          UNION SELECT DISTINCT dst FROM de),
reach(a, b) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN de e ON r.b = e.src
)
SELECT r1.a AS term, min(r1.b) AS scc_id
FROM reach r1
WHERE EXISTS (SELECT 1 FROM reach r2 WHERE r2.a = r1.b AND r2.b = r1.a)
GROUP BY r1.a
ORDER BY term
"""


@register("kg_scc_docs",
          _SCC_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_scc_docs(spark, sf_dir):
    """Strongly connected components over the directed FIRST-MENTION-ORDER
    graph: within each document, term a points at term b when a's first
    occurrence precedes b's; across the corpus the pair keeps only its
    dominant direction with a margin of 12 supporting documents (a
    majority tournament with a significance band — symmetric pairs drop,
    which is what leaves real cycles AND real DAG structure). SCC = the
    multi-pivot forward-backward peel (graph_algos.py), whose label-only
    integer/string propagation matches the transitive-closure SQL oracle
    row-for-row — the oracle keeps the closure form so the hash match
    proves the FW-BW decomposition.

    Scale shape: mention positions and ordered pairs are generated
    MAP-SIDE with array higher-order functions (no per-doc explode+join);
    the only data-sized shuffle is the (src, dst) count over a
    vocabulary-bounded key space. The SCC loop itself runs on the
    vocabulary projection, same posture as kg_components_docs."""
    from .operators.graph_algos import strongly_connected_components
    de = _mention_order_edges(spark, sf_dir)
    return (strongly_connected_components(de, src="src", dst="dst")
            .select(F.col("node").alias("term"), "scc_id")
            .orderBy("term"))


def _mention_order_edges(spark, sf_dir):
    """Memoized margin-12 dominant-direction tournament over first-mention
    order (shared by kg_scc_docs and kg_condensation_layers_docs)."""
    def build():
        docs = _t(spark, sf_dir, "documents")
        terms = [t for t, _ in kg_docs.DOC_LEXICON]
        w = F.split(F.col("text"), " ")
        pos = F.array(*[
            F.struct(F.lit(t).alias("term"),
                     F.array_position(w, t).alias("fp")) for t in terms])
        present = F.filter(pos, lambda x: x["fp"] > 0)
        d = docs.select("doc_id", present.alias("pr"))
        pairs = F.flatten(F.transform(
            F.col("pr"),
            lambda a: F.transform(
                F.filter(F.col("pr"), lambda b: b["fp"] > a["fp"]),
                lambda b: F.struct(a["term"].alias("src"),
                                   b["term"].alias("dst")))))
        cnt = (d.select(F.explode(pairs).alias("p"))
               .groupBy(F.col("p.src").alias("src"),
                        F.col("p.dst").alias("dst"))
               .agg(F.count(F.lit(1)).alias("w")))
        rev = cnt.select(F.col("src").alias("rsrc"),
                         F.col("dst").alias("rdst"),
                         F.col("w").alias("rw"))
        return (cnt.join(rev, (F.col("src") == F.col("rdst"))
                         & (F.col("dst") == F.col("rsrc")))
                .filter(F.col("w") >= F.col("rw") + 12)
                .select("src", "dst").persist())
    return _memo(spark, ("mention_order_edges", sf_dir), build)


_TOKEN_CLIP_SQL = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
)
SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(least(len(ws), 64) AS BIGINT) AS kept_tokens,
       CAST(len(ws) > 64 AS BIGINT) AS clipped,
       md5(array_to_string(ws[1:64], ' ')) AS clip_fingerprint
FROM words
ORDER BY doc_id
"""


@register("data_token_clip", _TOKEN_CLIP_SQL)
def data_token_clip(spark, sf_dir):
    """Token-budget clipping — every document truncated to its first 64
    tokens (the max-sequence-length guard in front of packing/tokenizer
    stages), reporting kept/total counts, a clipped flag, and the md5
    fingerprint of the clipped text so the cut content is itself
    dedupable/verifiable downstream. Pure map-side: split, slice, hash —
    no shuffle at any scale except the final presentation sort."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    return (d.select("doc_id", ws.alias("ws"))
            .select("doc_id",
                    F.size("ws").cast("long").alias("n_tokens"),
                    F.least(F.size("ws"), F.lit(64)).cast("long")
                    .alias("kept_tokens"),
                    (F.size("ws") > 64).cast("long").alias("clipped"),
                    F.md5(F.concat_ws(" ", F.slice("ws", 1, 64)))
                    .alias("clip_fingerprint"))
            .orderBy("doc_id"))


_LEAKSAFE_SPLIT_SQL = """
WITH g AS (SELECT doc_id, md5(text) AS grp FROM documents),
b AS (
  SELECT doc_id, grp,
         CAST(CAST(concat('0x', substr(md5(concat('split:42:', grp)), 1, 16))
                   AS UBIGINT) % 10000 AS INTEGER) AS bucket
  FROM g
)
SELECT doc_id, grp,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM b
ORDER BY doc_id
"""


@register("data_leakage_safe_split", _LEAKSAFE_SPLIT_SQL)
def data_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: the split key is the EXACT-DUP
    GROUP (md5 of the text), not the document id, so byte-identical
    documents can never straddle the train/eval boundary — the elementary
    contamination guard every eval pipeline needs before the fuzzier
    n-gram decontamination pass (text_contamination). Same md5-bucket
    assignment as data_hash_split, keyed by group; map-side only."""
    from .operators.text_analysis import hash_split
    d = _t(spark, sf_dir, "documents").withColumn("grp", F.md5("text"))
    return (hash_split(d, key_col="grp")
            .select("doc_id", "grp", "split").orderBy("doc_id"))


def _bloom_pos_sql(tag: str, expr: str, m: int = 256) -> str:
    return (f"CAST(CAST(concat('0x', substr(md5(concat('{tag}:42:', "
            f"{expr})), 1, 16)) AS UBIGINT) % {m} AS INTEGER)")


_BLOOM_SQL = f"""
WITH buyers AS (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  GROUP BY 1 HAVING count(*) >= 16
), bits AS (
  SELECT DISTINCT pos FROM (
    SELECT {_bloom_pos_sql('bloom0', 'CAST(user_id AS VARCHAR)')} AS pos
    FROM buyers
    UNION ALL
    SELECT {_bloom_pos_sql('bloom1', 'CAST(user_id AS VARCHAR)')} FROM buyers
    UNION ALL
    SELECT {_bloom_pos_sql('bloom2', 'CAST(user_id AS VARCHAR)')} FROM buyers)
), probe AS (
  SELECT user_id,
         {_bloom_pos_sql('bloom0', 'CAST(user_id AS VARCHAR)')} AS p0,
         {_bloom_pos_sql('bloom1', 'CAST(user_id AS VARCHAR)')} AS p1,
         {_bloom_pos_sql('bloom2', 'CAST(user_id AS VARCHAR)')} AS p2
  FROM (SELECT DISTINCT user_id FROM events)
)
SELECT probe.user_id,
       CAST(p0 IN (SELECT pos FROM bits)
            AND p1 IN (SELECT pos FROM bits)
            AND p2 IN (SELECT pos FROM bits) AS BIGINT) AS bloom_hit,
       CAST(probe.user_id IN (SELECT user_id FROM buyers) AS BIGINT)
         AS actual
FROM probe
ORDER BY user_id
"""


@register("sketch_bloom_prune", _BLOOM_SQL)
def sketch_bloom_prune(spark, sf_dir):
    """Bloom-filter membership pruning — the join-pushdown sketch: the
    heavy-buyer user set (>= 16 purchases) is folded into a 256-bit /
    3-hash Bloom filter
    (deliberately undersized for the gate corpus so false positives are
    OBSERVED, not hypothetical — size m ∝ set size in production)
    (positions = md5 buckets with decorrelated tags, so both engines build
    bit-identical filters), then every user probes it. bloom_hit=1,
    actual=0 rows are the measured false positives — the quantity that
    decides whether a runtime Bloom-pruned join is worth shipping. The bit
    set is data-independent-bounded (≤ m rows), so at 100 TB it
    broadcasts; the probe is map-side after that broadcast (here the
    membership checks stay as semi-join shapes the optimizer can reuse)."""
    from .operators.text_analysis import _hash_bucket
    e = _t(spark, sf_dir, "events")
    buyers = (e.filter(F.col("event_type") == "purchase")
              .groupBy("user_id").agg(F.count(F.lit(1)).alias("_n"))
              .filter(F.col("_n") >= 16).select("user_id"))
    pos_cols = [_hash_bucket(F.col("user_id"), 42, f"bloom{i}", 256)
                for i in range(3)]
    bits = buyers.select(F.explode(F.array(*pos_cols)).alias("pos")) \
        .distinct()
    probe = (e.select("user_id").distinct()
             .select("user_id",
                     *[pc.alias(f"p{i}") for i, pc in enumerate(pos_cols)]))
    for i in range(3):
        probe = probe.join(
            F.broadcast(bits.withColumnRenamed("pos", f"b{i}")),
            F.col(f"p{i}") == F.col(f"b{i}"), "left")
    hit = (F.col("b0").isNotNull() & F.col("b1").isNotNull()
           & F.col("b2").isNotNull())
    return (probe.join(buyers.withColumn("actual", F.lit(1)),
                       "user_id", "left")
            .select("user_id", hit.cast("long").alias("bloom_hit"),
                    F.coalesce("actual", F.lit(0)).cast("long")
                    .alias("actual"))
            .orderBy("user_id"))


def _pdf_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the PDF metadata parse: version/object-count/page-count/
    MediaBox/stream-byte totals are pure formulas (sources/pdf.
    synthetic_pdf_media), recomputed here without touching the PDF bytes."""
    sizes = [(612, 792), (595, 842), (612, 1008)]
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 7 + seed) % 5
        w, h = sizes[i % 3]
        cb = sum(len(f"BT /F1 12 Tf 72 720 Td (page {p} of doc {i}) Tj ET")
                 for p in range(n_pages))
        rows.append(f"({i}, '1.4', {2 * n_pages + 3}, {n_pages}, {w}, {h},"
                    f" {cb}, 'doc-{i}')")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id, version,"
            f" CAST(n_objects AS INTEGER) AS n_objects,"
            f" CAST(n_pages AS INTEGER) AS n_pages,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(content_bytes AS BIGINT) AS content_bytes, title"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, version, n_objects, n_pages, width, height,"
            f" content_bytes, title)")


@register("multimodal_pdf_metadata", _pdf_fixture_sql())
def multimodal_pdf_metadata(spark, sf_dir):
    """REAL PDF 1.4 metadata (sources/pdf.parse_pdf): reader-style parse —
    tail startxref → xref table (offset-driven object access) → trailer
    /Root → catalog → flat page-tree walk; first-page MediaBox dims,
    uncompressed-stream byte total, Info /Title. The reference pipeline is
    PDF-first (core/document_processor.py extractor chain); this is the
    container-metadata stage a curation pipeline runs before spending a
    text extraction. Compressed xref streams / filtered content streams
    are honestly refused, like progressive JPEG."""
    from .sources.pdf import extract_pdf_metadata, synthetic_pdf_media
    return extract_pdf_metadata(synthetic_pdf_media(spark, 30))


def _pdf_text_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for PDF text extraction: the expected text is a pure formula
    (sources/pdf.rich_page_text) recomputed here without touching the PDF
    bytes or the parser."""
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 5 + seed) % 4
        text = " ".join(
            f"Gradient descent notes (doc {i})"
            f" machine learning page {p}"
            f" neural network summary {i}-{p}" for p in range(n_pages))
        esc = text.replace("'", "''")
        rows.append(f"({i}, {n_pages}, '{esc}', {len(text.split())})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(n_pages AS INTEGER) AS n_pages, text,"
            f" CAST(n_words AS INTEGER) AS n_words"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, n_pages, text, n_words)")


@register("multimodal_pdf_text", _pdf_text_fixture_sql())
def multimodal_pdf_text(spark, sf_dir):
    """REAL PDF text extraction (sources/pdf.pdf_text): content streams
    sliced to exactly their /Length bytes via the xref walk, show-text
    operators decoded in stream order — literal-string escapes, octal
    escapes, nested parens, TJ kerning arrays. This is the ingestion stage
    that turns the reference's primary input (PDF corpora,
    core/document_processor.py) into documents-table rows; pdf_documents()
    feeds the output straight into the KG extract stage."""
    from .sources.pdf import extract_pdf_text, synthetic_pdf_text_media
    return extract_pdf_text(synthetic_pdf_text_media(spark, 24))


def _rich_pdf_text(i: int, n_pages: int) -> str:
    return " ".join(
        f"Gradient descent notes (doc {i})"
        f" machine learning page {p}"
        f" neural network summary {i}-{p}" for p in range(n_pages))


def _pdf_fallback_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the PDF extractor fallback chain: which chain stage each
    damage mode lands on, and the text every stage must still recover —
    pure formulas over the fixture parameters."""
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 5 + seed) % 4
        mode = i % 3
        extractor = ["xref", "scan", "harvest"][mode]
        text = _rich_pdf_text(i, n_pages).replace("'", "''")
        rows.append(f"({i}, '{extractor}',"
                    f" {n_pages if mode < 2 else 0}, '{text}')")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id, extractor,"
            f" CAST(n_pages AS INTEGER) AS n_pages, text"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, extractor, n_pages, text)")


@register("multimodal_pdf_fallback", _pdf_fallback_fixture_sql())
def multimodal_pdf_fallback(spark, sf_dir):
    """PDF extractor FALLBACK CHAIN (sources/pdf.pdf_text_chain) — the
    reference's 3-library chain (document_processor.py:91-177: pypdf →
    pdfplumber → pymupdf, first success wins, provenance recorded)
    re-expressed as three genuinely different parsing strategies: strict
    xref-offset-driven → object-header scan recovery (broken xref) →
    structureless show-op harvest (broken page tree). The fixture damages
    each document deterministically so every chain stage appears, and all
    three stages must recover the IDENTICAL text."""
    from .sources.pdf import (
        extract_pdf_text_chain,
        synthetic_pdf_corrupt_media,
    )
    return extract_pdf_text_chain(synthetic_pdf_corrupt_media(spark, 24))


def _doc_ingest_fixture_sql(n: int = 28, seed: int = 42) -> str:
    """Oracle for the unified ingestion dispatch: doc-type routing,
    extractor provenance, page/chapter counts and extracted text as pure
    formulas over the mixed-corpus fixture."""
    rows = []
    for i in range(n):
        kind = i % 7
        if kind <= 2:
            n_pages = 1 + (i * 5 + seed) % 4
            text = _rich_pdf_text(i, n_pages)
            dt, ex = "pdf", ["xref", "scan", "harvest"][kind]
            npg = n_pages if kind < 2 else 0
        elif kind <= 4:
            n_ch = 1 + (i * 3 + seed) % 3
            text = " ".join(
                f"Chapter {c} Notes on machine learning & neural network"
                f" design, doc {i}." for c in range(n_ch))
            dt, ex, npg = "epub", "epub", n_ch
        elif kind == 5:
            text = f"plain notes {i} on gradient descent"
            dt, ex, npg = "text", "plain", 1
        else:
            text, dt, ex, npg = "", "unsupported", "none", 0
        esc = text.replace("'", "''")
        rows.append(f"({i}, '{dt}', '{ex}', {npg}, {len(text)}, '{esc}')")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id, doc_type,"
            f" extractor, CAST(n_pages AS INTEGER) AS n_pages,"
            f" CAST(n_chars AS INTEGER) AS n_chars, text"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, doc_type, extractor, n_pages, n_chars, text)")


@register("multimodal_doc_ingest", _doc_ingest_fixture_sql())
def multimodal_doc_ingest(spark, sf_dir):
    """Unified document-ingestion dispatch (sources/ingest.
    ingest_documents) — the reference's process_file
    (document_processor.py:506-539) as ONE mapInPandas operator: PDF →
    fallback chain with provenance, EPUB → REAL OCF/zip container walk
    (mimetype entry, container.xml, OPF manifest+spine, XHTML strip),
    txt/md → plain decode, anything else → `unsupported` row; failures
    yield `failed` rows, never batch-killing throws."""
    from .sources.ingest import ingest_documents, synthetic_mixed_corpus
    return ingest_documents(synthetic_mixed_corpus(spark, 28))


def _pdf_pages_fixture_sql(n: int = 12, seed: int = 42) -> str:
    """Oracle for per-page extraction with char-offset spans: page text and
    its [start, end) span in the space-joined document text — pure
    formulas."""
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 5 + seed) % 4
        pos = 0
        for p in range(n_pages):
            text = (f"Gradient descent notes (doc {i})"
                    f" machine learning page {p}"
                    f" neural network summary {i}-{p}")
            start = pos if p == 0 else pos + 1
            rows.append(f"({i}, {p}, '{text}', {start},"
                        f" {start + len(text)})")
            pos = start + len(text)
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(page AS INTEGER) AS page, text,"
            f" CAST(char_start AS INTEGER) AS char_start,"
            f" CAST(char_end AS INTEGER) AS char_end"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, page, text, char_start, char_end)")


@register("multimodal_pdf_pages", _pdf_pages_fixture_sql())
def multimodal_pdf_pages(spark, sf_dir):
    """Per-page PDF extraction with the reference's page_mapping semantics
    (document_processor.py: char_pos → (page, start, end)): each page row
    carries its exact [char_start, char_end) span in the concatenated
    document text — what citation rendering needs to attribute a quote to
    'p. N'. Spans are pinned exact in tests: full_text[start:end] ==
    page_text for every page."""
    from .sources.pdf import extract_pdf_pages, synthetic_pdf_text_media
    return extract_pdf_pages(synthetic_pdf_text_media(spark, 12))


def _bridges_sql(rounds: int = 6, top_k: int = 16) -> str:
    """Bridge-detection oracle: per-edge BFS unrolled — round i grows every
    probe's reachable set through the undirected edge list minus the probed
    edge itself; after `rounds` ≥ hop diameter, an edge is a bridge iff its
    far endpoint was never reached. Top-K-strongest edge selection is fully
    deterministic (ORDER BY common DESC, term_a, term_b)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), p AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, count(*) AS c
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
), te AS MATERIALIZED (
  SELECT a, b FROM p ORDER BY c DESC, a, b LIMIT {top_k}
), und AS MATERIALIZED (
  SELECT a AS s, b AS d FROM te UNION ALL SELECT b, a FROM te
), r0 AS (SELECT a, b, a AS node FROM te)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT DISTINCT a, b, node FROM (
    SELECT a, b, node FROM r{i - 1}
    UNION ALL
    SELECT r.a, r.b, u.d AS node
    FROM r{i - 1} r JOIN und u ON u.s = r.node
    WHERE NOT (least(u.s, u.d) = r.a AND greatest(u.s, u.d) = r.b)
  ))""")
    return head + "".join(steps) + f"""
SELECT t.a AS term_a, t.b AS term_b, (h.a IS NULL) AS is_bridge
FROM te t LEFT JOIN (SELECT a, b FROM r{rounds} WHERE node = b) h
  ON h.a = t.a AND h.b = t.b"""


@register("kg_bridges_docs", _bridges_sql())
def kg_bridges_docs(spark, sf_dir):
    """Cut-edge (bridge) detection over the 16 strongest co-occurrence
    edges — which associations, if dropped, disconnect the entity graph
    (KG robustness audit; reference analog: nx.bridges over the built
    graph). Distributed per-edge parallel BFS
    (operators/graph_algos.bridges): all probes share one frontier table,
    one equi-join per round, converge-then-stop."""
    from .operators.graph_algos import bridges
    e = (_cooc_edges(spark, sf_dir, 1)
         .orderBy(F.col("common").desc(), "term_a", "term_b").limit(16)
         .select("term_a", "term_b"))
    return bridges(e, src="term_a", dst="term_b", max_rounds=8)


def _articulation_sql(rounds: int = 6, top_k: int = 16) -> str:
    """Cut-vertex oracle: for each node v, BFS from v's minimum neighbor
    with v excluded, unrolled `rounds` times; v is an articulation point
    iff some neighbor of v is never reached (its neighborhood falls apart
    without it)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), p AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, count(*) AS c
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
), te AS MATERIALIZED (
  SELECT a, b FROM p ORDER BY c DESC, a, b LIMIT {top_k}
), und AS MATERIALIZED (
  SELECT a AS s, b AS d FROM te UNION ALL SELECT b, a FROM te
), r0 AS (SELECT s AS v, min(d) AS node FROM und GROUP BY s)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT DISTINCT v, node FROM (
    SELECT v, node FROM r{i - 1}
    UNION ALL
    SELECT r.v, u.d AS node
    FROM r{i - 1} r JOIN und u ON u.s = r.node
    WHERE u.s <> r.v AND u.d <> r.v
  ))""")
    return head + "".join(steps) + f"""
, miss AS (
  SELECT DISTINCT u.s AS v
  FROM und u LEFT JOIN r{rounds} r ON r.v = u.s AND r.node = u.d
  WHERE r.v IS NULL
)
SELECT n.v AS term, (m.v IS NOT NULL) AS is_articulation
FROM (SELECT DISTINCT s AS v FROM und) n LEFT JOIN miss m ON m.v = n.v"""


@register("kg_articulation_points_docs", _articulation_sql())
def kg_articulation_points_docs(spark, sf_dir):
    """Cut-vertex detection over the 16 strongest co-occurrence edges —
    which entities hold the graph together (single points of failure in
    the KG topology; reference analog: nx.articulation_points).
    Distributed per-node parallel BFS
    (operators/graph_algos.articulation_points): every probe shares one
    frontier table, one equi-join per round."""
    from .operators.graph_algos import articulation_points
    e = (_cooc_edges(spark, sf_dir, 1)
         .orderBy(F.col("common").desc(), "term_a", "term_b").limit(16)
         .select("term_a", "term_b"))
    return articulation_points(e, src="term_a", dst="term_b", max_rounds=8)


_CONTAINMENT_SQL = """
WITH sh AS (
  SELECT doc_id AS id, lang AS blk,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)
)
SELECT a.id AS id_sub, b.id AS id_super,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6)
           AS containment
FROM sh a JOIN sh b ON a.blk = b.blk AND a.id <> b.id
WHERE len(a.s) > 0
  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.3
"""


@register("dedup_containment_docs", _CONTAINMENT_SQL)
def dedup_containment_docs(spark, sf_dir):
    """Asymmetric sub-document duplication (operators/dedup.
    containment_pairs): directional C(A→B) = |sh∩|/|sh(A)| ≥ 0.3 pairs —
    catches a short doc embedded in a long one, which symmetric Jaccard
    (dedup_ngram_jaccard_docs) structurally misses. The engine runs the
    exact prefix-filtered path (contained-side rarest-shingle index ⋈
    full postings); the oracle is the brute definitional join."""
    from .operators.dedup import containment_pairs
    return containment_pairs(_t(spark, sf_dir, "documents"),
                             threshold=0.3, k=3)


_KFOLD_SQL = """
WITH r AS (
  SELECT lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(concat('kfold:', CAST(doc_id AS VARCHAR))), doc_id
         ) - 1 AS rn
  FROM documents
)
SELECT lang, CAST(rn % 5 AS INTEGER) AS fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM r GROUP BY 1, 2
"""


@register("data_kfold_split", _KFOLD_SQL)
def data_kfold_split(spark, sf_dir):
    """Stratified k-fold assignment (k=5, stratum = lang) for
    cross-validation over the corpus: docs are ordered inside each
    stratum by a salted md5 of their id (deterministic, uncorrelated
    with content) and dealt round-robin, so fold sizes within a stratum
    differ by at most one — the guarantee random assignment lacks.
    Output is the fold manifest (docs + chars per stratum × fold) that
    a training job joins back on. One window per stratum partition; at
    scale the md5 rank is a per-stratum sort, and strata process
    independently (no global order)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("kfold:"), F.col("doc_id").cast("string"))),
        "doc_id")
    r = d.select("lang", "n_chars",
                 (F.row_number().over(w) - 1).alias("rn"))
    return (r.groupBy("lang", (F.col("rn") % 5).cast("int").alias("fold"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


_CURRICULUM_SQL = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS tok
  FROM documents
), ph AS (
  SELECT doc_id, tok, ntile(3) OVER (ORDER BY tok, doc_id) AS phase
  FROM t
)
SELECT CAST(phase AS INTEGER) AS phase,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(min(tok) AS BIGINT) AS min_tokens,
       CAST(max(tok) AS BIGINT) AS max_tokens
FROM ph GROUP BY 1
"""


@register("data_curriculum_phases", _CURRICULUM_SQL)
def data_curriculum_phases(spark, sf_dir):
    """Length-based curriculum schedule: docs dealt into 3 training phases
    by token count (short→long, the standard sequence-length curriculum
    that also packs efficiently early), ntile over a deterministic
    (tokens, doc_id) order — phase sizes differ by at most one. The
    manifest (docs / tokens / length range per phase) is what the
    training loop consumes. A global ntile over docs; at catalog scale
    the same phases come from the two-phase bucketed rank
    (text_domain_budget plan), as with every global-order query here."""
    d = _t(spark, sf_dir, "documents")
    tok = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    t = d.select("doc_id", tok.cast("long").alias("tok"))
    ph = t.select("tok", F.ntile(3).over(
        Window.orderBy("tok", "doc_id")).cast("int").alias("phase"))
    return (ph.groupBy("phase")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("tok").cast("long").alias("total_tokens"),
                 F.min("tok").cast("long").alias("min_tokens"),
                 F.max("tok").cast("long").alias("max_tokens")))


def _pq_distortion_fixture_sql() -> str:
    """PQ-distortion oracle — the same single-process-fixture technique as
    ann_pq_topk (scripts/gen_ivf_fixture.py:pq_distortion_single_process),
    scale-keyed by the events-count probe."""
    from .ivf_fixture import PQ_DISTORTION
    vals = ", ".join(
        f"({_SF_EVENT_ROWS[sf]}, {j}, {n}, {s}, {a})"
        for sf, rows in PQ_DISTORTION.items() if sf in _SF_EVENT_ROWS
        for j, n, s, a in rows)
    return (f"SELECT CAST(subspace AS INTEGER) AS subspace,"
            f" CAST(n_vectors AS BIGINT) AS n_vectors,"
            f" CAST(sum_d2_e6 AS BIGINT) AS sum_d2_e6,"
            f" CAST(avg_d2_e6 AS BIGINT) AS avg_d2_e6"
            f" FROM (VALUES {vals})"
            f" t(ev, subspace, n_vectors, sum_d2_e6, avg_d2_e6)"
            f" WHERE ev = (SELECT count(*) FROM events)")


@register("ann_pq_distortion", _pq_distortion_fixture_sql())
def ann_pq_distortion(spark, sf_dir):
    """Per-subspace PQ quantization-error report
    (operators/similarity.pq_distortion) for the exact codebooks
    ann_pq_topk scores with — the compressed-index quality gauge (a
    subspace with outsized average error needs more codes or a rotation
    before the index ships). Exact fixed-point aggregation of the
    operator's own 6-dp assignment distances; oracle is the
    single-process Python mirror."""
    from .operators.similarity import pq_distortion
    embs = _t(spark, sf_dir, "embeddings")
    return pq_distortion(embs, m=16, n_codes=16)


_EDIT_DIST_SQL = """
WITH d AS (
  SELECT doc_id, lang, substr(text, 1, 32) AS p FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS blk,
       CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(length(a.p) - length(b.p)) <= 4
WHERE levenshtein(a.p, b.p) <= 4
"""


@register("dedup_edit_distance_docs", _EDIT_DIST_SQL)
def dedup_edit_distance_docs(spark, sf_dir):
    """Edit-distance near-dup join: all same-lang document pairs whose
    32-char prefixes are within Levenshtein distance 4 — the typo/OCR-jitter
    duplicate tier that shingle Jaccard under-weights. The Spark plan is the
    exact positional-q-gram prefix filter (operators/dedup.edit_distance_pairs:
    rare-(gram,occ) prefix join, never O(n²) per block) + JVM levenshtein
    verify; the oracle is the brute within-lang join. Both engines implement
    textbook Levenshtein, so the verify distances match exactly."""
    from .operators.dedup import edit_distance_pairs
    d = _t(spark, sf_dir, "documents")
    return edit_distance_pairs(d, max_dist=4, prefix_len=32, q=2)


_DAMERAU_SQL = """
WITH d AS (
  SELECT doc_id, lang, substr(text, 1, 24) AS p FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS blk,
       CAST(damerau_levenshtein(a.p, b.p) AS BIGINT) AS dl_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(length(a.p) - length(b.p)) <= 3
WHERE damerau_levenshtein(a.p, b.p) <= 3
"""


@register("dedup_damerau_docs", _DAMERAU_SQL)
def dedup_damerau_docs(spark, sf_dir):
    """Transposition-aware near-dup join: same-lang document pairs whose
    24-char prefixes are within TRUE Damerau-Levenshtein distance 3 —
    adjacent-character swaps (the dominant human typo class) cost 1 here
    where plain Levenshtein charges 2, so this tier catches swapped-typo
    duplicates dedup_edit_distance_docs over-prices. Spark plan:
    positional q-gram prefix filter with the transposition-adjusted
    k·(q+1) budget (operators/dedup.damerau_pairs) + exact Lowrance-Wagner
    DP verify in an Arrow-batched pandas UDF; oracle: brute within-lang
    join on DuckDB's native damerau_levenshtein (independent C++
    implementation of the same true-DL definition — integer distances
    match exactly)."""
    from .operators.dedup import damerau_pairs
    d = _t(spark, sf_dir, "documents")
    return damerau_pairs(d, max_dist=3, prefix_len=24, q=2)


def _eigencentrality_sql(n_iters: int = 5, scale: int = 10**6,
                         min_cooc: int = 322) -> str:
    """Eigenvector-centrality oracle: the operator's exact integer power
    iteration (long neighbor sums + renormalize-to-scale floor division,
    all operands positive so Spark `div` == DuckDB `//`) unrolled one CTE
    pair per iteration over the bidirected sparsified co-occurrence
    graph."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e
),
x0 AS MATERIALIZED (SELECT DISTINCT z, CAST({scale} AS BIGINT) AS s
                    FROM bd)"""
    steps = []
    for i in range(1, n_iters + 1):
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT bd.z, sum(x.s) AS raw
  FROM bd JOIN x{i - 1} x ON x.z = bd.x GROUP BY bd.z),
x{i} AS MATERIALIZED (
  SELECT z, (raw * {scale}) // t.t AS s
  FROM r{i}, (SELECT sum(raw) AS t FROM r{i}) t)""")
    return head + "".join(steps) + f"""
SELECT z AS node, CAST(s AS BIGINT) AS score_e6 FROM x{n_iters}"""


@register("kg_eigencentrality_docs", _eigencentrality_sql())
def kg_eigencentrality_docs(spark, sf_dir):
    """Eigenvector centrality (operators/graph_algos.eigencentrality_scaled)
    of the sparsified term co-occurrence graph — the influence measure
    PageRank's damping hides and degree misses: a term scores high when
    its NEIGHBORS score high, so mass concentrates on the graph's dense
    core. Fixed-point integer power iteration (5 rounds) ⇒ bit-identical
    to the unrolled SQL recurrence regardless of partitioning."""
    from .operators.graph_algos import eigencentrality_scaled
    edges = _cooc_edges(spark, sf_dir, 322)
    return eigencentrality_scaled(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"))


from .operators.sketches import countsketch_sql as _countsketch_sql  # noqa: E402


@register("sketch_countsketch_terms",
          _countsketch_sql(_TOK_STREAM, "tok",
                           [t for t, _ in kg_docs.DOC_LEXICON]))
def sketch_countsketch_terms(spark, sf_dir):
    """Count-Sketch frequency estimates for the 15 lexicon terms over the
    full document token stream (operators/sketches.countsketch_estimate) —
    the UNBIASED two-sided sibling of sketch_cms_terms: collisions carry
    random ±1 signs and cancel in expectation instead of always inflating,
    and the d=3 median is the exact integer sum−max−min. Same linear
    union-mergeable d·w-row shape as CMS."""
    from .operators.sketches import countsketch_estimate
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                     lambda w: w != "")
    toks = docs.select(F.explode(words).alias("tok"))
    return countsketch_estimate(toks, "tok",
                                [t for t, _ in kg_docs.DOC_LEXICON])


_DSIR_BUCKETS = 64


_DSIR_SQL = f"""
WITH w AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
), bg AS (
  SELECT doc_id, lang,
         CAST(CAST(concat('0x', substr(md5(concat('dsir:', b)), 1, 16))
              AS UBIGINT) % {_DSIR_BUCKETS} AS BIGINT) AS bkt
  FROM (SELECT doc_id, lang,
               unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS b
        FROM w)
), src AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS cs FROM bg GROUP BY 1
), tgt AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS ct
  FROM bg WHERE lang = 'en' GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ns,
         CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS nt
  FROM bg
), lam AS (
  SELECT s.bkt,
         CAST(floor(ln(CAST((coalesce(t.ct, 0) + 1) * (tot.ns + {_DSIR_BUCKETS})
                   AS DOUBLE)
                 / CAST((tot.nt + {_DSIR_BUCKETS}) * (s.cs + 1) AS DOUBLE))
              * 1000000000 + 0.5) AS BIGINT) AS lam_e9
  FROM src s LEFT JOIN tgt t ON t.bkt = s.bkt CROSS JOIN tot
), per_doc AS (
  SELECT bg.doc_id, bg.lang, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lam.lam_e9) AS BIGINT) AS w_e9
  FROM bg JOIN lam ON lam.bkt = bg.bkt
  GROUP BY 1, 2
)
SELECT d.doc_id, d.lang,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       coalesce(p.w_e9, 0) AS w_e9
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


@register("data_dsir_weights", _DSIR_SQL)
def data_dsir_weights(spark, sf_dir):
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023)
    importance weights for training-data selection: hashed word-bigram
    features (md5 → 64 buckets, the same derived-hash discipline as
    data_hash_split), target distribution = the English slice, raw
    distribution = the whole corpus, per-bucket log-importance
    λ(b) = ln(p̂_tgt(b)/p̂_src(b)) with add-1 smoothing — e9-floored ONCE
    per bucket from exact integer count ratios (the text_naive_bayes_lang
    log discipline) — and per-document weight = Σ count_doc(b)·λ_e9(b),
    an exact integer sum. Docs whose importance weight is high look like
    the target domain and survive resampling. Plan: one exploded bigram
    aggregate (map-side combinable), a 64-row broadcast λ table, one
    per-doc sum — at 100 TB the corpus scan is the whole cost and
    nothing data-sized ever sits on the driver."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", "lang", F.split("text", " ").alias("ws"))
    # size<2 guard matches DuckDB's empty range(1, n<1) — Spark's
    # sequence(1, 0) would DESCEND and hit index 0 under ANSI
    bg = (w.select("doc_id", "lang", F.explode(F.expr(
        "IF(size(ws) >= 2, transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))),"
        " CAST(array() AS ARRAY<STRING>))"))
        .alias("b"))
        .select("doc_id", "lang", (F.conv(F.substring(F.md5(
            F.concat(F.lit("dsir:"), F.col("b"))), 1, 16), 16, 10)
            .cast("decimal(38,0)") % _DSIR_BUCKETS).cast("long")
            .alias("bkt")))
    src = bg.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("cs"))
    tgt = (bg.filter(F.col("lang") == "en")
           .groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("ct")))
    tot = bg.agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long")
        .alias("nt"))
    lam = (src.join(tgt, "bkt", "left").crossJoin(F.broadcast(tot))
           .select("bkt", F.expr(
               f"CAST(floor(ln(CAST((coalesce(ct, 0) + 1)"
               f" * (ns + {_DSIR_BUCKETS}) AS DOUBLE)"
               f" / CAST((nt + {_DSIR_BUCKETS}) * (cs + 1) AS DOUBLE))"
               f" * 1000000000 + 0.5) AS BIGINT)").alias("lam_e9")))
    per_doc = (bg.join(F.broadcast(lam), "bkt")
               .groupBy("doc_id", "lang")
               .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                    F.sum("lam_e9").cast("long").alias("w_e9")))
    return (d.select("doc_id", "lang")
            .join(per_doc.drop("lang"), "doc_id", "left")
            .select("doc_id", "lang",
                    F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                    F.coalesce("w_e9", F.lit(0)).cast("long")
                    .alias("w_e9")))


_AUG_DROP_MOD = 10


_AUG_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), kept AS (
  SELECT doc_id, len(ws) AS n_tokens,
         list_filter(ws, (t, i) ->
           CAST(CAST(concat('0x', substr(md5(concat('aug:',
                CAST(doc_id AS VARCHAR), ':', CAST(i AS VARCHAR))), 1, 16))
                AS UBIGINT) % {_AUG_DROP_MOD} AS BIGINT) != 0) AS ks
  FROM w
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(ks) AS BIGINT) AS n_kept,
       md5(array_to_string(ks, ' ')) AS aug_fingerprint
FROM kept
"""


@register("data_token_dropout_aug", _AUG_SQL)
def data_token_dropout_aug(spark, sf_dir):
    """Deterministic token-dropout augmentation (the EDA random-deletion
    op made replayable): token i of doc d is dropped iff
    md5('aug:d:i') ≡ 0 (mod 10) — the same derived-randomness discipline
    as data_hash_split, so the augmented corpus is identical across
    engines, retries and executors (a real requirement: augmentation
    must be reproducible for ablation). The output fingerprints the
    augmented text rather than shipping it. Plan: one map-side
    array-lambda pass per doc, zero shuffles beyond the scan — position
    indices are 1-based in BOTH engines (DuckDB list lambdas are 1-based;
    the Spark lambda shifts its 0-based index)."""
    d = _t(spark, sf_dir, "documents")
    ks = F.expr(
        f"filter(split(text, ' '), (t, i) -> CAST(conv(substring(md5("
        f"concat('aug:', CAST(doc_id AS STRING), ':',"
        f" CAST(i + 1 AS STRING))), 1, 16), 16, 10) AS DECIMAL(38,0))"
        f" % {_AUG_DROP_MOD} != 0)")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.size(ks).cast("long").alias("n_kept"),
        F.md5(F.array_join(ks, " ")).alias("aug_fingerprint"))


_FFD_SQL = r"""
WITH RECURSIVE base AS (
  SELECT CAST(CAST(concat('0x', substr(md5(concat('pack:42:', CAST(doc_id AS VARCHAR))), 1, 16))
              AS UBIGINT) % 16 AS INTEGER) AS shard,
         CAST(doc_id AS BIGINT) AS doc_id,
         CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                      w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT) AS n_tokens
  FROM documents
), t AS MATERIALIZED (
  SELECT shard, doc_id, n_tokens,
         row_number() OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id) AS rn
  FROM base
), pack AS (
  SELECT shard, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS bin,
         n_tokens AS bin_fill, [n_tokens] AS bins
  FROM t WHERE rn = 1
  UNION ALL
  SELECT q.shard, q.doc_id, q.n_tokens, q.rn,
         CAST(CASE WHEN q.idx IS NULL THEN len(q.bins)
                   ELSE q.idx - 1 END AS BIGINT),
         CASE WHEN q.idx IS NULL THEN q.n_tokens
              ELSE q.bins[q.idx] + q.n_tokens END,
         CASE WHEN q.idx IS NULL THEN list_append(q.bins, q.n_tokens)
              ELSE list_transform(range(1, len(q.bins) + 1),
                     j -> CASE WHEN j = q.idx
                               THEN q.bins[j] + q.n_tokens
                               ELSE q.bins[j] END) END
  FROM (
    SELECT p.bins, t.shard, t.doc_id, t.n_tokens, t.rn,
           list_filter(range(1, len(p.bins) + 1),
                       i -> p.bins[i] + t.n_tokens <= 512)[1] AS idx
    FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
  ) q
)
SELECT shard, doc_id, n_tokens, bin, bin_fill,
       CAST(len(bins) AS BIGINT) AS n_bins
FROM pack
"""


@register("data_pack_ffd", _FFD_SQL)
def data_pack_ffd(spark, sf_dir):
    """First-Fit-Decreasing sequence packing into 512-token bins
    (operators/packing.pack_sequences_ffd) — the 11/9·OPT quality
    upgrade over data_pack_sequences' next-fit, verified against a
    recursive-CTE replay whose accumulator is the whole BIN-LOAD LIST
    (the oracle carries every open bin's fill through the recursion, so
    a wrong first-fit index, a missed close or an off-by-one in the
    ledger flips the hash). Same 16-way md5 sharding: bins stay
    shard-local, parallelism = shards, state = O(open bins) per shard."""
    from .operators.packing import pack_sequences_ffd
    return pack_sequences_ffd(_t(spark, sf_dir, "documents"),
                              max_tokens=512)


_BOWTIE_SQL_TPL = """
WITH RECURSIVE pos AS (
  SELECT doc_id, term,
         list_position(string_split(text, ' '), term) AS fp
  FROM documents, {lex}
  WHERE list_position(string_split(text, ' '), term) > 0
), cnt AS (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.fp < b.fp
  GROUP BY 1, 2
), de AS (
  SELECT c1.src, c1.dst
  FROM cnt c1 JOIN cnt c2 ON c1.src = c2.dst AND c1.dst = c2.src
  WHERE c1.w >= c2.w + 12
), verts AS (
  -- NOTE: inside WITH RECURSIVE, DuckDB 1.0 accumulates a bare
  -- `a UNION b` CTE body without deduplicating across the two arms
  -- (union-all-like); the explicit DISTINCT-over-UNION-ALL keeps the
  -- vertex set a set
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM de UNION ALL SELECT dst FROM de) u
), reach(a, b) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN de e ON r.b = e.src
), scc AS (
  SELECT r1.a AS v, min(r1.b) AS sid
  FROM reach r1
  WHERE EXISTS (SELECT 1 FROM reach r2 WHERE r2.a = r1.b AND r2.b = r1.a)
  GROUP BY 1
), corev AS (
  SELECT v FROM scc WHERE sid = (
    SELECT sid FROM (SELECT sid, count(*) AS sz FROM scc GROUP BY 1
                     ORDER BY sz DESC, sid LIMIT 1))
), fwd AS (
  SELECT DISTINCT r.b AS v FROM reach r
  WHERE r.a IN (SELECT v FROM corev)
), bwd AS (
  SELECT DISTINCT r.a AS v FROM reach r
  WHERE r.b IN (SELECT v FROM corev)
), inn AS (
  SELECT v FROM bwd WHERE v NOT IN (SELECT v FROM corev)
), outt AS (
  SELECT v FROM fwd WHERE v NOT IN (SELECT v FROM corev)
), from_in AS (
  SELECT DISTINCT r.b AS v FROM reach r WHERE r.a IN (SELECT v FROM inn)
), to_out AS (
  SELECT DISTINCT r.a AS v FROM reach r WHERE r.b IN (SELECT v FROM outt)
), cls AS (
  SELECT v, CASE WHEN v IN (SELECT v FROM corev) THEN 'CORE'
                 WHEN v IN (SELECT v FROM inn) THEN 'IN'
                 WHEN v IN (SELECT v FROM outt) THEN 'OUT'
                 WHEN v IN (SELECT v FROM from_in)
                      AND v IN (SELECT v FROM to_out) THEN 'TUBE'
                 WHEN v IN (SELECT v FROM from_in) THEN 'TENDRIL_IN'
                 WHEN v IN (SELECT v FROM to_out) THEN 'TENDRIL_OUT'
                 ELSE 'DISCONNECTED' END AS bowtie_class
  FROM verts
)
SELECT bowtie_class, CAST(count(*) AS BIGINT) AS n_nodes,
       min(v) AS first_term
FROM cls GROUP BY 1
"""


@register("kg_bowtie_docs",
          _BOWTIE_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_bowtie_docs(spark, sf_dir):
    """Bowtie decomposition (Broder et al. 2000, the web-graph macro
    structure) of the directed first-mention-order tournament graph that
    kg_scc_docs builds: CORE = largest SCC, IN reaches it, OUT is
    reachable from it, residue split into TUBE / TENDRIL_IN /
    TENDRIL_OUT / DISCONNECTED by (reachable-from-IN, reaches-OUT). Runs
    the REAL distributed pieces — the FW-BW SCC operator plus four
    set-reachability fixpoints, each round one equi-join + distinct —
    against the oracle's transitive-closure classification, so the hash
    match proves the frontier propagation, the largest-SCC tiebreak AND
    the residue logic. Scale shape: same as kg_scc_docs — data-sized work
    is the one mention-pair count; every fixpoint runs on the
    vocabulary projection."""
    from .operators.graph_algos import bowtie_decomposition
    de = _mention_order_edges(spark, sf_dir)
    cls = bowtie_decomposition(de, src="src", dst="dst")
    return (cls.groupBy("bowtie_class")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                 F.min("node").alias("first_term")))


_DBSCAN_SQL = """
WITH RECURSIVE e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), adj AS (
  SELECT a.id AS i, b.id AS j
  FROM e a JOIN e b ON a.id <> b.id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.30
), deg AS (SELECT i, count(*) AS d FROM adj GROUP BY 1),
core AS (SELECT i FROM deg WHERE d + 1 >= 4),
ce AS (
  SELECT x.i, x.j FROM adj x
  WHERE x.i IN (SELECT i FROM core) AND x.j IN (SELECT i FROM core)
), reach(a, b) AS (
  SELECT i, i FROM core
  UNION
  SELECT r.a, x.j FROM reach r JOIN ce x ON x.i = r.b
), clus AS (
  SELECT a AS i, min(b) AS cid FROM reach GROUP BY 1
), bord AS (
  SELECT adj.i, min(c.cid) AS bcid
  FROM adj JOIN clus c ON c.i = adj.j GROUP BY 1
)
SELECT e.id AS vec_id,
       CASE WHEN cl.cid IS NOT NULL THEN 'core'
            WHEN b.bcid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(coalesce(cl.cid, b.bcid) AS BIGINT) AS cluster_id
FROM e
LEFT JOIN clus cl ON cl.i = e.id
LEFT JOIN bord b ON b.i = e.id
"""


@register("ann_dbscan_clusters", _DBSCAN_SQL)
def ann_dbscan_clusters(spark, sf_dir):
    """DBSCAN density clustering over the embedding corpus (cosine ≥ 0.30
    neighborhood, min_pts 4): per-vector role (core / border / noise) and
    cluster id — the no-k clustering complement of the kmeans family, and
    the embedding-space outlier detector a corpus-quality pipeline runs
    before sampling. Clusters are connected components of the core-core
    graph computed by the REAL distributed large-star/small-star operator
    (cluster_id = numeric min member, zero-pad/cast proven by the hash);
    border points take the smallest core-neighbor cluster. The oracle
    re-derives everything through a transitive-closure min-label
    recursion, so the hash match pins core/border/noise boundaries AND
    component labels. Brute pair generation is the disclosed gate-scale
    baseline (ann_knn_graph posture); at 10⁹ rows candidates come from
    the LSH band join with identical downstream semantics."""
    from .operators.similarity import dbscan_labels
    return dbscan_labels(_t(spark, sf_dir, "embeddings"),
                         threshold=0.30, min_pts=4)


_DISTDIST_SQL = f"""
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {{lex}}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 330
), bd AS MATERIALIZED (
  SELECT DISTINCT node, nbr FROM (
    SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e) u
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
bfs(root, node, d) AS (
  SELECT node, node, 0 FROM nodes
  UNION
  SELECT f.root, bd.nbr, f.d + 1
  FROM bfs f JOIN bd ON bd.node = f.node
  WHERE f.d < 12
), dist AS (
  SELECT root, node, min(d) AS d FROM bfs
  WHERE root < node GROUP BY 1, 2
), h AS (
  SELECT d, CAST(count(*) AS HUGEINT) AS n FROM dist GROUP BY 1
), hc AS (
  SELECT d, n, sum(n) OVER (ORDER BY d) AS c,
         sum(n) OVER () AS tt,
         sum(n) OVER (ORDER BY d) - n AS cp
  FROM h
), ed AS (
  SELECT CAST((d - 1) * 1000000
              + (9 * tt - 10 * cp) * 1000000
                // (10 * (c - cp)) AS BIGINT) AS eff_diameter_e6
  FROM hc WHERE 10 * c >= 9 * tt ORDER BY d LIMIT 1
)
SELECT CAST(hc.d AS INTEGER) AS dist, CAST(hc.n AS BIGINT) AS n_pairs,
       CAST(hc.c AS BIGINT) AS cum_pairs, ed.eff_diameter_e6
FROM hc, ed
"""


@register("kg_distance_distribution",
          _DISTDIST_SQL.format(lex=kg_docs.lexicon_values_sql()))
def kg_distance_distribution(spark, sf_dir):
    """Geodesic distance distribution of the sparsified co-occurrence
    graph plus the ANF-style 90% EFFECTIVE DIAMETER (Palmer et al. 2002,
    the 'how many hops until the graph closes' number behind every
    small-world claim): unordered reachable pairs histogrammed by BFS
    distance, cumulative counts, and the exact linearly-interpolated
    90th percentile as one integer cross-multiplication. Engine: the
    real all-pairs frontier BFS (graph_algos._bfs_all_pairs, one
    equi-join + anti-join per hop); oracle: a depth-bounded recursive
    closure with min-per-pair (walk lengths collapse to geodesics).
    Same vocabulary-projection posture as every all-pairs analytic —
    at corpus scale the histogram comes from ANF sketches, same
    output shape."""
    from .operators.graph_algos import distance_distribution
    edges = _cooc_edges(spark, sf_dir, 330)
    return distance_distribution(
        edges.select(F.col("term_a").alias("subj"),
                     F.col("term_b").alias("obj")))


def _kmv_diff_sql(table: str, key_col: str, group_col: str,
                  k: int = 64) -> str:
    """DuckDB mirror of sketches.kmv_difference: identical hash prefixes,
    identical θ selection (k-th smallest, sentinel above any hex when the
    group is exhaustively sketched), identical string-compare membership
    and one integer cnt·2⁶⁴ // θ estimate."""
    g16 = "g" * 16
    space = "18446744073709551616"
    return f"""
WITH keys AS (
  SELECT DISTINCT {group_col} AS grp, CAST({key_col} AS VARCHAR) AS ks
  FROM {table}
), hashed AS (
  SELECT DISTINCT grp, substr(md5(ks), 1, 16) AS h FROM keys
), top AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
    FROM hashed) q WHERE rn <= {k}
), sizes AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n FROM keys GROUP BY 1
), syn AS (
  SELECT t.grp, s.n, list_sort(list(t.h)) AS hs,
         CASE WHEN s.n < {k} THEN '{g16}'
              ELSE list_sort(list(t.h))[{k}] END AS th
  FROM top t JOIN sizes s USING (grp) GROUP BY t.grp, s.n
), inter AS (
  SELECT a.grp AS ga, b.grp AS gb, CAST(count(*) AS BIGINT) AS n_inter
  FROM keys a JOIN keys b ON a.ks = b.ks AND a.grp < b.grp
  GROUP BY 1, 2
), pairs AS (
  SELECT a.grp AS ga, b.grp AS gb, a.hs AS ha, b.hs AS hb,
         a.n AS n_a, b.n AS n_b, least(a.th, b.th) AS th
  FROM syn a JOIN syn b ON a.grp < b.grp
), cnts AS (
  SELECT ga, gb, n_a, n_b, th,
         CAST(len(list_filter(ha,
              h -> h < th AND NOT list_contains(hb, h))) AS HUGEINT) AS cab,
         CAST(len(list_filter(hb,
              h -> h < th AND NOT list_contains(ha, h))) AS HUGEINT) AS cba
  FROM pairs
)
SELECT c.ga AS type_a, c.gb AS type_b, c.n_a, c.n_b,
       CAST(c.n_a - coalesce(i.n_inter, 0) AS BIGINT) AS diff_ab_exact,
       CAST(CASE WHEN c.th = '{g16}' THEN c.cab
                 ELSE c.cab * CAST({space} AS HUGEINT)
                      // CAST(CAST(concat('0x', c.th) AS UBIGINT)
                              AS HUGEINT) END AS BIGINT) AS diff_ab_kmv,
       CAST(c.n_b - coalesce(i.n_inter, 0) AS BIGINT) AS diff_ba_exact,
       CAST(CASE WHEN c.th = '{g16}' THEN c.cba
                 ELSE c.cba * CAST({space} AS HUGEINT)
                      // CAST(CAST(concat('0x', c.th) AS UBIGINT)
                              AS HUGEINT) END AS BIGINT) AS diff_ba_kmv
FROM cnts c LEFT JOIN inter i ON i.ga = c.ga AND i.gb = c.gb
"""


@register("sketch_theta_diff_events",
          _kmv_diff_sql("events", "user_id", "event_type"))
def sketch_theta_diff_events(spark, sf_dir):
    """Directed audience set-DIFFERENCE between event types via the
    theta-sketch A∖B operation over KMV synopses
    (operators/sketches.kmv_difference): with θ = min of the two k-th
    smallest hashes, membership below θ is exact, so |A∖B| ≈
    |{h ∈ S_A : h < θ, h ∉ S_B}|·2⁶⁴/θ — one integer division, no float.
    Completes the sketch set algebra next to sketch_jaccard_events
    (∩ ratio) and sketch_hll_union_events (∪): the 'users who click but
    never purchase' estimator at k rows per group instead of a full
    per-pair shuffle; exact differences ride along as the error
    report."""
    from .operators.sketches import kmv_difference
    return kmv_difference(_t(spark, sf_dir, "events"), "user_id",
                          "event_type")


_BIPARTITE_SQL = f"""
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {{lex}}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 330
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
rc(a, b) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT rc.a, bd.nbr FROM rc JOIN bd ON bd.node = rc.b
), comp AS (
  SELECT a AS node, min(b) AS component FROM rc GROUP BY 1
), bfs(node, d) AS (
  SELECT node, 0 FROM comp WHERE node = component
  UNION
  SELECT bd.nbr, bfs.d + 1 FROM bfs JOIN bd ON bd.node = bfs.node
  WHERE bfs.d < 16
), dist AS (
  SELECT node, CAST(min(d) AS INTEGER) AS dist FROM bfs GROUP BY 1
), col AS (
  SELECT c.node, c.component, d.dist,
         CAST(d.dist % 2 AS INTEGER) AS color
  FROM comp c JOIN dist d ON d.node = c.node
), odd AS (
  SELECT ca.component AS cmp,
         CAST(sum(CASE WHEN ca.color = cb.color THEN 1 ELSE 0 END)
              AS BIGINT) AS comp_odd_edges
  FROM e JOIN col ca ON ca.node = e.a JOIN col cb ON cb.node = e.b
  GROUP BY 1
)
SELECT col.node AS node, col.component, col.dist, col.color,
       coalesce(o.comp_odd_edges, 0) AS comp_odd_edges,
       coalesce(o.comp_odd_edges, 0) = 0 AS comp_bipartite
FROM col LEFT JOIN odd o ON o.cmp = col.component
""".format(lex=kg_docs.lexicon_values_sql())


@register("kg_bipartite_check", _BIPARTITE_SQL)
def kg_bipartite_check(spark, sf_dir):
    """Bipartiteness test of the sparsified doc co-occurrence graph
    (graph_algos.bipartite_coloring): BFS parity 2-coloring — color =
    shortest hop distance from the component's min-label root, mod 2 —
    with a proper-coloring audit counting same-color edges per
    component. Shortest-hop parity is traversal-order independent, so
    the test is deterministic under any partitioning (a stack-order DFS
    coloring would not be). Components run the REAL large-star /
    small-star operator; distances are synchronous min-plus frontier
    rounds; the oracle re-derives both through min-label and (node,
    depth)-deduped BFS recursions, so the hash pins distances, colors
    AND the per-component odd-edge census."""
    from .operators.graph_algos import bipartite_coloring
    edges = _cooc_edges(spark, sf_dir, 330)
    return bipartite_coloring(edges, src="term_a", dst="term_b")


_SALSA_SQL = """
WITH RECURSIVE pos AS (
  SELECT doc_id, term,
         list_position(string_split(text, ' '), term) AS fp
  FROM documents, {lex}
  WHERE list_position(string_split(text, ' '), term) > 0
),
cnt AS (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.fp < b.fp
  GROUP BY 1, 2
),
de AS MATERIALIZED (
  SELECT c1.src, c1.dst
  FROM cnt c1 JOIN cnt c2 ON c1.src = c2.dst AND c1.dst = c2.src
  WHERE c1.w >= c2.w + 12
),
adeg AS MATERIALIZED (
  SELECT dst AS node, CAST(count(*) AS BIGINT) AS deg FROM de GROUP BY 1
),
apairs AS MATERIALIZED (
  SELECT DISTINCT e1.dst AS a, e2.dst AS b
  FROM de e1 JOIN de e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
abd AS (SELECT a AS node, b AS nbr FROM apairs UNION SELECT b, a FROM apairs),
arc(a, b) AS (
  SELECT node, node FROM adeg
  UNION
  SELECT arc.a, abd.nbr FROM arc JOIN abd ON abd.node = arc.b
),
acomp AS (SELECT a AS node, min(b) AS component FROM arc GROUP BY 1),
asum AS (
  SELECT c.component, sum(d.deg) AS comp_deg_sum,
         CAST(count(*) AS BIGINT) AS n_comp
  FROM adeg d JOIN acomp c ON c.node = d.node GROUP BY 1
),
hdeg AS MATERIALIZED (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM de GROUP BY 1
),
hpairs AS MATERIALIZED (
  SELECT DISTINCT e1.src AS a, e2.src AS b
  FROM de e1 JOIN de e2 ON e1.dst = e2.dst AND e1.src < e2.src
),
hbd AS (SELECT a AS node, b AS nbr FROM hpairs UNION SELECT b, a FROM hpairs),
hrc(a, b) AS (
  SELECT node, node FROM hdeg
  UNION
  SELECT hrc.a, hbd.nbr FROM hrc JOIN hbd ON hbd.node = hrc.b
),
hcomp AS (SELECT a AS node, min(b) AS component FROM hrc GROUP BY 1),
hsum AS (
  SELECT c.component, sum(d.deg) AS comp_deg_sum,
         CAST(count(*) AS BIGINT) AS n_comp
  FROM hdeg d JOIN hcomp c ON c.node = d.node GROUP BY 1
)
SELECT 'authority' AS side, d.node, d.deg, c.component,
       CAST(s.comp_deg_sum AS BIGINT) AS comp_deg_sum, s.n_comp,
       CAST(s.n_comp * d.deg * 1000000000
            // ((SELECT count(*) FROM adeg) * s.comp_deg_sum)
           AS BIGINT) AS score_e9
FROM adeg d JOIN acomp c ON c.node = d.node
JOIN asum s ON s.component = c.component
UNION ALL
SELECT 'hub' AS side, d.node, d.deg, c.component,
       CAST(s.comp_deg_sum AS BIGINT) AS comp_deg_sum, s.n_comp,
       CAST(s.n_comp * d.deg * 1000000000
            // ((SELECT count(*) FROM hdeg) * s.comp_deg_sum)
           AS BIGINT) AS score_e9
FROM hdeg d JOIN hcomp c ON c.node = d.node
JOIN hsum s ON s.component = c.component
""".format(lex=kg_docs.lexicon_values_sql())


@register("kg_salsa_docs", _SALSA_SQL)
def kg_salsa_docs(spark, sf_dir):
    """SALSA link analysis (Lempel-Moran 2000) of the directed
    first-mention-order tournament graph (graph_algos.salsa_scores) —
    the stochastic sibling of HITS whose fixed point has an exact closed
    form: authority weight = (|C|/|A|)·d_in/Σ_C d_in over the CO-CITATION
    components, hub weight symmetrically over bibliographic coupling.
    Because the closed form IS the stationary distribution, no power
    iteration or float tolerance is involved: every score is one
    integer floor division (e9), making SALSA exactly verifiable where
    HITS (hits_scaled) needs scaled fixed-iteration replay. Support
    components run the REAL distributed large-star/small-star operator
    on both sides."""
    from .operators.graph_algos import salsa_scores
    de = _mention_order_edges(spark, sf_dir)
    return salsa_scores(de, src="src", dst="dst")


_VOTERANK_SQL = """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), nodes AS (
  SELECT DISTINCT term FROM (SELECT a AS term FROM e
                             UNION SELECT b FROM e)
), ty AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS INTEGER) AS ti
  FROM nodes
), adjp AS (
  SELECT x.ti AS i, y.ti AS j,
         CAST(CASE WHEN EXISTS (
           SELECT 1 FROM e WHERE (e.a = x.term AND e.b = y.term)
                              OR (e.a = y.term AND e.b = x.term))
         THEN 1 ELSE 0 END AS BIGINT) AS v
  FROM ty x, ty y
), consts AS (
  SELECT (SELECT list(l ORDER BY i) FROM (
            SELECT i, list(v ORDER BY j) AS l FROM adjp GROUP BY i) q)
      AS nn,
         (SELECT CAST(count(*) AS INTEGER) FROM ty) AS k,
         CAST((SELECT count(*) FROM ty) * 1000000
              // greatest(2 * (SELECT count(*) FROM e), 1) AS BIGINT)
             AS delta
), st AS (
  SELECT 0 AS it, 0 AS phase, 0 AS sel, CAST(0 AS BIGINT) AS selscore,
         list_transform(range(1, c.k + 1),
                        i -> CAST(1000000 AS BIGINT)) AS va,
         list_transform(range(1, c.k + 1), i -> 0) AS mask,
         c.nn AS nn, c.k AS k, c.delta AS delta
  FROM consts c
  UNION ALL
  SELECT s.it + 1, 1 - s.phase,
         CASE WHEN s.phase = 0 THEN CAST(list_position(
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN s.mask[i] = 1 THEN CAST(-1 AS BIGINT)
             ELSE list_sum(list_transform(range(1, s.k + 1),
                           j -> s.nn[i][j] * s.va[j])) END),
           list_max(
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN s.mask[i] = 1 THEN CAST(-1 AS BIGINT)
             ELSE list_sum(list_transform(range(1, s.k + 1),
                           j -> s.nn[i][j] * s.va[j])) END)))
           AS INTEGER)
         ELSE s.sel END AS sel2,
         CASE WHEN s.phase = 0 THEN list_max(
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN s.mask[i] = 1 THEN CAST(-1 AS BIGINT)
             ELSE list_sum(list_transform(range(1, s.k + 1),
                           j -> s.nn[i][j] * s.va[j])) END))
         ELSE s.selscore END AS selscore2,
         CASE WHEN s.phase = 0 THEN s.va ELSE
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN i = s.sel THEN CAST(0 AS BIGINT)
             WHEN s.nn[s.sel][i] = 1
               THEN greatest(s.va[i] - s.delta, CAST(0 AS BIGINT))
             ELSE s.va[i] END) END AS va2,
         CASE WHEN s.phase = 0 THEN s.mask ELSE
           list_transform(range(1, s.k + 1),
                          i -> CASE WHEN i = s.sel THEN 1
                               ELSE s.mask[i] END) END AS mask2,
         s.nn, s.k, s.delta
  FROM st s
  WHERE s.it < 2 * {rounds}
)
SELECT CAST((s.it + 1) // 2 AS INTEGER) AS round, ty.term AS node,
       s.selscore AS score
FROM st s JOIN ty ON ty.ti = s.sel
WHERE s.phase = 1
"""


@register("kg_voterank_docs",
          _VOTERANK_SQL.format(lex=kg_docs.lexicon_values_sql(),
                               min_cooc=kg_docs.MIN_COOCCURRENCES,
                               rounds=5))
def kg_voterank_docs(spark, sf_dir):
    """VoteRank influential-spreader election (Zhang, Lü et al. 2016)
    over the doc co-occurrence graph (graph_algos.voterank): five
    rounds of vote-and-suppress — each elected node zeroes its own
    voting ability and weakens its neighbors' by 1/⟨k⟩, so the chosen
    set SPREADS over the graph instead of clustering in one dense
    neighborhood the way degree/PageRank top-k does. All ability
    arithmetic is e6 integer (δ = |V|·1e6 // 2|E|), making the elected
    sequence deterministic; the oracle replays it through a two-phase
    elect/suppress list recursion with the adjacency matrix carried in
    the recursion state."""
    from .operators.graph_algos import voterank
    return voterank(_cooc_edges(spark, sf_dir), rounds=5,
                    src="term_a", dst="term_b")


_CHATRENDER_SQL = """
WITH turns AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_id,
         CAST(row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                 ORDER BY ts, event_id) - 1 AS BIGINT)
             AS turn_idx,
         event_type || ':' || event_id AS text
  FROM events
), seg AS (
  SELECT user_id, day, turn_idx,
         CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END
             AS role,
         text,
         '<|' || CASE WHEN turn_idx % 2 = 0 THEN 'user'
                 ELSE 'assistant' END || '|>' || text || '<|end|>'
             AS rendered
  FROM turns
), off AS (
  SELECT *,
         sum(length(rendered)) OVER (PARTITION BY user_id, day
                                     ORDER BY turn_idx)
           - length(rendered) AS seg_start
  FROM seg
), spans AS (
  SELECT user_id, day,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_assistant_turns,
         CAST(sum(length(rendered)) AS BIGINT) AS rendered_len,
         CAST(sum(CASE WHEN role = 'assistant' THEN length(text)
                  ELSE 0 END) AS BIGINT) AS masked_chars,
         md5(string_agg(rendered, '' ORDER BY turn_idx))
             AS rendered_md5,
         md5(coalesce(string_agg(
             CASE WHEN role = 'assistant'
             THEN (seg_start + length('<|assistant|>'))::VARCHAR || '-'
                  || (seg_start + length('<|assistant|>')
                      + length(text))::VARCHAR END, '|'
             ORDER BY turn_idx), '')) AS spans_md5
  FROM off GROUP BY user_id, day
)
SELECT user_id, day, n_turns, n_assistant_turns, rendered_len,
       masked_chars, rendered_md5, spans_md5
FROM spans ORDER BY user_id, day LIMIT 200
"""


@register("data_chat_render_mask", _CHATRENDER_SQL)
def data_chat_render_mask(spark, sf_dir):
    """Chat-template rendering with LOSS-MASK spans — the
    training-pair preparation step of the transcripts north rule,
    exercised over data-derived conversations (each user-day is a
    conversation, turns alternate user/assistant): every turn is
    wrapped <|role|>text<|end|>, concatenated in turn order, and the
    assistant text spans' exact character offsets (the tokens a
    supervised-fine-tune computes loss on) are derived from a running
    prefix-length window — no sequential pass. The rendered string and
    the span list are md5-pinned per conversation alongside the masked
    char budget. Everything is string + integer arithmetic, identical
    across engines; first 200 conversations keep the gate result
    bounded while the plan (one window + one grouped aggregate per
    conversation key) is the 10⁹-conversation shape."""
    e = _t(spark, sf_dir, "events")
    wturn = Window.partitionBy("user_id", "day").orderBy("ts",
                                                         "event_id")
    turns = (e.withColumn("day", F.to_date("ts"))
             .select("user_id", "day", "ts", "event_id",
                     (F.row_number().over(wturn) - 1).cast("long")
                     .alias("turn_idx"),
                     F.concat("event_type", F.lit(":"),
                              F.col("event_id")).alias("text")))
    role = F.when(F.col("turn_idx") % 2 == 0, "user") \
            .otherwise("assistant")
    seg = turns.withColumn("role", role).withColumn(
        "rendered", F.concat(F.lit("<|"), F.col("role"), F.lit("|>"),
                             F.col("text"), F.lit("<|end|>")))
    woff = Window.partitionBy("user_id", "day").orderBy("turn_idx")
    off = seg.withColumn(
        "seg_start", F.sum(F.length("rendered")).over(woff)
        - F.length("rendered"))
    span_str = F.when(
        F.col("role") == "assistant",
        F.concat((F.col("seg_start")
                  + F.length(F.lit("<|assistant|>"))).cast("string"),
                 F.lit("-"),
                 (F.col("seg_start") + F.length(F.lit("<|assistant|>"))
                  + F.length("text")).cast("string")))
    spans = (off.withColumn("sp", span_str)
             .groupBy("user_id", "day")
             .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                  F.sum(F.when(F.col("role") == "assistant", 1)
                        .otherwise(0)).cast("long")
                  .alias("n_assistant_turns"),
                  F.sum(F.length("rendered")).cast("long")
                  .alias("rendered_len"),
                  F.sum(F.when(F.col("role") == "assistant",
                               F.length("text")).otherwise(0))
                  .cast("long").alias("masked_chars"),
                  F.md5(F.concat_ws(
                      "", F.array_sort(F.collect_list(
                          F.struct("turn_idx", "rendered")))
                      .getField("rendered"))).alias("rendered_md5"),
                  F.md5(F.concat_ws(
                      "|", F.filter(
                          F.array_sort(F.collect_list(
                              F.struct("turn_idx", "sp")))
                          .getField("sp"),
                          lambda x: x.isNotNull())))
                  .alias("spans_md5")))
    return spans.orderBy("user_id", "day").limit(200)


_SPAN_CORRUPT_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS words
  FROM documents
), t0 AS (
  SELECT doc_id, words,
         unnest(range(1, len(words) + 1)) AS ii
  FROM w
), t AS (
  SELECT doc_id, CAST(ii - 1 AS BIGINT) AS i,
         words[CAST(ii AS INTEGER)] AS w
  FROM t0
), s AS (
  SELECT doc_id, i, w,
         CAST(CAST(concat('0x', substr(md5(concat('span:42:',
              CAST(doc_id AS VARCHAR), ':', CAST(i AS VARCHAR))),
              1, 16)) AS UBIGINT) % 20 = 0 AS INTEGER) AS st
  FROM t
), m1 AS (
  SELECT *, greatest(st,
           coalesce(lag(st, 1) OVER (PARTITION BY doc_id ORDER BY i),
                    0),
           coalesce(lag(st, 2) OVER (PARTITION BY doc_id ORDER BY i),
                    0)) AS masked
  FROM s
), m2 AS (
  SELECT *, CASE WHEN masked = 1 AND coalesce(
           lag(masked) OVER (PARTITION BY doc_id ORDER BY i), 0) = 0
         THEN 1 ELSE 0 END AS run_start
  FROM m1
), m3 AS (
  SELECT *, sum(run_start) OVER (PARTITION BY doc_id ORDER BY i) - 1
             AS sid
  FROM m2
), pieces AS (
  SELECT doc_id, i, masked, run_start,
         CASE WHEN masked = 0 THEN w
              WHEN run_start = 1
              THEN '<extra_id_' || CAST(sid AS VARCHAR) || '>'
         END AS cpiece,
         CASE WHEN masked = 1 THEN
           (CASE WHEN run_start = 1
            THEN '<extra_id_' || CAST(sid AS VARCHAR) || '> '
            ELSE '' END) || w
         END AS tpiece
  FROM m3
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(masked) AS BIGINT) AS n_masked,
       CAST(sum(run_start) AS BIGINT) AS n_spans,
       md5(coalesce(string_agg(cpiece, ' ' ORDER BY i), ''))
           AS corrupted_md5,
       md5(coalesce(string_agg(tpiece, ' ' ORDER BY i), ''))
           AS target_md5,
       CAST(sum(masked) * 1000000 // count(*) AS BIGINT)
           AS noise_ratio_e6
FROM pieces GROUP BY doc_id
"""


@register("data_span_corruption", _SPAN_CORRUPT_SQL)
def data_span_corruption(spark, sf_dir):
    """T5-style span-corruption pair generation over the document
    corpus — the denoising-objective data prep (Raffel et al. 2020):
    ~15% of words masked in mean-length-3 spans, every span replaced
    by one <extra_id_k> sentinel in the corrupted input while the
    target lists each sentinel followed by the words it hides. Span
    placement is pure per-position hash arithmetic (a position STARTS
    a span iff its decorrelated md5 bucket % 20 == 0; a word is masked
    iff any of positions i, i-1, i-2 starts — two lag windows, no
    sequential pass, no RNG state, stable under retries exactly like
    hash_split), sentinel numbering is one running sum over run
    starts, and both rendered sides are md5-pinned per document with
    the realized noise ratio. Plan: explode + three narrow windows per
    doc partition + one grouped aggregate — the 10^9-document shape."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.filter(F.split(F.lower(F.trim("text")), r"\s+"),
                 lambda x: x != "").alias("words"))
    t = words.select(
        "doc_id", F.posexplode("words").alias("i0", "w")).select(
        "doc_id", F.col("i0").cast("long").alias("i"), "w")
    st = (F.conv(F.substring(F.md5(F.concat_ws(
        "", F.lit("span:42:"), F.col("doc_id").cast("string"),
        F.lit(":"), F.col("i").cast("string"))), 1, 16), 16, 10)
        .cast("decimal(20,0)") % 20 == 0).cast("int")
    s = t.withColumn("st", st)
    wd = Window.partitionBy("doc_id").orderBy("i")
    m1 = s.withColumn(
        "masked", F.greatest(
            "st", F.coalesce(F.lag("st", 1).over(wd), F.lit(0)),
            F.coalesce(F.lag("st", 2).over(wd), F.lit(0))))
    m2 = m1.withColumn(
        "run_start",
        F.when((F.col("masked") == 1)
               & (F.coalesce(F.lag("masked").over(wd), F.lit(0)) == 0),
               1).otherwise(0))
    m3 = m2.withColumn("sid", F.sum("run_start").over(wd) - 1)
    cpiece = (F.when(F.col("masked") == 0, F.col("w"))
              .when(F.col("run_start") == 1,
                    F.concat(F.lit("<extra_id_"),
                             F.col("sid").cast("string"), F.lit(">"))))
    tpiece = F.when(
        F.col("masked") == 1,
        F.concat(F.when(F.col("run_start") == 1,
                        F.concat(F.lit("<extra_id_"),
                                 F.col("sid").cast("string"),
                                 F.lit("> "))).otherwise(F.lit("")),
                 F.col("w")))
    pieces = m3.withColumn("cpiece", cpiece).withColumn("tpiece",
                                                        tpiece)

    def _agg_md5(col):
        return F.md5(F.concat_ws(" ", F.filter(
            F.array_sort(F.collect_list(F.struct("i", col)))
            .getField(col), lambda x: x.isNotNull())))

    return (pieces.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("masked").cast("long").alias("n_masked"),
                 F.sum("run_start").cast("long").alias("n_spans"),
                 _agg_md5("cpiece").alias("corrupted_md5"),
                 _agg_md5("tpiece").alias("target_md5"),
                 F.expr("CAST(sum(masked) * 1000000 div count(*)"
                        " AS BIGINT)").alias("noise_ratio_e6")))


_PREF_PAIRS_SQL = """
WITH turns AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_id,
         CAST(row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                 ORDER BY ts, event_id) - 1 AS BIGINT)
             AS turn_idx,
         event_type || ':' || event_id AS text,
         CAST(round(value * 100) AS BIGINT) AS score_e2
  FROM events
), cand AS (
  SELECT * FROM turns WHERE turn_idx % 2 = 1
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, day
                            ORDER BY score_e2 DESC, event_id) AS rbest,
         row_number() OVER (PARTITION BY user_id, day
                            ORDER BY score_e2 ASC, event_id) AS rworst,
         count(*) OVER (PARTITION BY user_id, day) AS n_cand
  FROM cand
), pairs AS (
  SELECT b.user_id, b.day, CAST(b.n_cand AS BIGINT) AS n_candidates,
         b.event_id AS chosen_event_id,
         w.event_id AS rejected_event_id,
         b.score_e2 AS chosen_score_e2,
         w.score_e2 AS rejected_score_e2,
         b.score_e2 - w.score_e2 AS margin_e2,
         md5(b.text || '>' || w.text) AS pair_md5
  FROM ranked b JOIN ranked w
    ON b.user_id = w.user_id AND b.day = w.day
  WHERE b.rbest = 1 AND w.rworst = 1 AND b.n_cand >= 2
    AND b.score_e2 > w.score_e2
)
SELECT * FROM pairs ORDER BY user_id, day LIMIT 300
"""


@register("data_preference_pairs", _PREF_PAIRS_SQL)
def data_preference_pairs(spark, sf_dir):
    """Preference-pair formation for reward-model / DPO training over
    the same data-derived conversations the chat-render row templates
    (user-day = conversation, odd turns = assistant candidates): per
    conversation the highest- and lowest-scored candidate responses
    (value as the e2-integer reward, deterministic event_id tiebreak)
    become the chosen/rejected pair, conversations with fewer than two
    candidates or a zero margin are dropped (no preference signal),
    and each pair carries its margin and an md5 of the ordered
    chosen>rejected texts. Two rank windows + one self-join per
    conversation key — no collect, the 10^9-conversation shape; first
    300 conversations keep the gate bounded."""
    e = _t(spark, sf_dir, "events")
    wturn = Window.partitionBy("user_id", "day").orderBy("ts",
                                                         "event_id")
    turns = (e.withColumn("day", F.to_date("ts"))
             .select("user_id", "day", "event_id",
                     (F.row_number().over(wturn) - 1).cast("long")
                     .alias("turn_idx"),
                     F.concat("event_type", F.lit(":"),
                              F.col("event_id")).alias("text"),
                     F.round(F.col("value") * 100).cast("long")
                     .alias("score_e2")))
    cand = turns.filter(F.col("turn_idx") % 2 == 1)
    wp = Window.partitionBy("user_id", "day")
    ranked = (cand
              .withColumn("rbest", F.row_number().over(
                  wp.orderBy(F.col("score_e2").desc(), "event_id")))
              .withColumn("rworst", F.row_number().over(
                  wp.orderBy(F.col("score_e2").asc(), "event_id")))
              .withColumn("n_cand", F.count(F.lit(1)).over(wp)))
    b = ranked.filter(F.col("rbest") == 1).alias("b")
    w = ranked.filter(F.col("rworst") == 1).alias("w")
    pairs = (b.join(w, ["user_id", "day"])
             .filter((F.col("b.n_cand") >= 2)
                     & (F.col("b.score_e2") > F.col("w.score_e2")))
             .select("user_id", "day",
                     F.col("b.n_cand").cast("long")
                     .alias("n_candidates"),
                     F.col("b.event_id").alias("chosen_event_id"),
                     F.col("w.event_id").alias("rejected_event_id"),
                     F.col("b.score_e2").alias("chosen_score_e2"),
                     F.col("w.score_e2").alias("rejected_score_e2"),
                     (F.col("b.score_e2") - F.col("w.score_e2"))
                     .alias("margin_e2"),
                     F.md5(F.concat(F.col("b.text"), F.lit(">"),
                                    F.col("w.text")))
                     .alias("pair_md5")))
    return pairs.orderBy("user_id", "day").limit(300)


_URLCANON_SQL = """
WITH base AS (
  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300
), raw AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'http' END)
    || '://'
    || (CASE WHEN doc_id % 2 = 0
        THEN 'Example-' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
        ELSE 'example-' || CAST(doc_id % 7 AS VARCHAR) || '.com' END)
    || (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END)
    || (CASE doc_id % 5 WHEN 0 THEN '/a/b/../c'
        WHEN 1 THEN '/a/./c' WHEN 2 THEN '/a/c'
        WHEN 3 THEN '/x/y/../../a/c' ELSE '/d/c' END)
    || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1'
        ELSE '?a=1&b=2' END)
    || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)
        AS raw_url,
    'http://example-' || CAST(doc_id % 7 AS VARCHAR) || '.com'
    || (CASE WHEN doc_id % 5 = 4 THEN '/d/c' ELSE '/a/c' END)
    || '?a=1&b=2' AS canonical_url
  FROM base
), sized AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY canonical_url)
                 AS BIGINT) AS cluster_size
  FROM raw
)
SELECT doc_id, raw_url, canonical_url, cluster_size,
       cluster_size > 1 AS is_dup
FROM sized
"""


@register("data_url_canonicalize", _URLCANON_SQL)
def data_url_canonicalize(spark, sf_dir):
    """URL canonicalization — the FIRST dedup primitive of a web
    pipeline, running before any content hash: 300 deterministic raw
    URLs (synthesized from doc ids with uppercase schemes/hosts,
    default :80 ports, `.`/`..` dot segments, permuted query params
    and fragments) are collapsed by the GENERIC canonicalizer in
    functions/urltools.py — scheme/host lowercasing, default-port
    strip, RFC 3986 dot-segment removal, bytewise query sort,
    fragment drop — as an Arrow-batched pandas UDF (the distributed
    path of a 10^11-URL frontier), then clustered by canonical form
    with per-cluster sizes and dup flags. The oracle re-derives each
    canonical from the variant arithmetic, so a canonicalizer bug
    (a pop-at-root slip, an unsorted query) diverges and flips the
    hash. The URL-level complement of the exact/MinHash content
    dedup family."""
    from .functions.urltools import canonicalize_url_udf
    base = (_t(spark, sf_dir, "documents").orderBy("doc_id")
            .limit(300).select("doc_id"))
    d = F.col("doc_id")
    raw_url = F.concat(
        F.when(d % 3 == 0, "HTTP").otherwise("http"),
        F.lit("://"),
        F.when(d % 2 == 0,
               F.concat(F.lit("Example-"), (d % 7).cast("string"),
                        F.lit(".COM")))
        .otherwise(F.concat(F.lit("example-"),
                            (d % 7).cast("string"), F.lit(".com"))),
        F.when(d % 4 == 0, ":80").otherwise(""),
        F.when(d % 5 == 0, "/a/b/../c")
        .when(d % 5 == 1, "/a/./c").when(d % 5 == 2, "/a/c")
        .when(d % 5 == 3, "/x/y/../../a/c").otherwise("/d/c"),
        F.when(d % 2 == 0, "?b=2&a=1").otherwise("?a=1&b=2"),
        F.when(d % 6 == 0, "#frag").otherwise(""))
    r = (base.withColumn("raw_url", raw_url)
         .withColumn("canonical_url",
                     canonicalize_url_udf()(F.col("raw_url"))))
    sized = r.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(
            Window.partitionBy("canonical_url")).cast("long"))
    return sized.select("doc_id", "raw_url", "canonical_url",
                        "cluster_size",
                        (F.col("cluster_size") > 1).alias("is_dup"))


def _robots_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the robots.txt decisions: derived INDEPENDENTLY of
    the parser, straight from the fixture grammar's variant
    arithmetic — a merged group, a shortest-match precedence, or a
    fallback group leaking into a specific one flips the hash."""

    def expected(i, probe):
        kep = i % 3 == 0
        delay = 1 + i % 9 if kep else None
        g = "kep-bot" if kep else "*"
        if kep:
            if probe == "/private/data.html":
                if i % 2 == 0:
                    return g, "/private/data.html", 18, True, delay
                return g, "/private/", 9, False, delay
            if probe == "/tmp/x.php" and i % 2 == 1:
                return g, "/*.php$", 7, False, delay
            return g, None, 0, True, delay
        if probe == "/public/a.html":
            return g, "/public/", 8, True, delay
        if probe == "/tmp/x.php":
            if i % 4 == 0:
                return g, "/tmp/x.php", 10, True, delay
            return g, "/*.php$", 7, False, delay
        if probe == "/cgi-bin/run?q=1":
            return g, "/cgi-bin/", 9, False, delay
        return g, None, 0, True, delay

    from knowledge_extraction_pipeline_spark.sources.robotsfile import (
        PROBE_PATHS,
    )
    rows = []
    for i in range(n):
        n_sm = (1 if i % 2 == 0 else 0) + (1 if i % 5 == 0 else 0)
        for probe in PROBE_PATHS:
            g, rule, ln, allowed, delay = expected(i, probe)
            rows.append(
                f"({i}, '{probe}', '{g}',"
                f" {'NULL' if rule is None else repr(rule)}, {ln},"
                f" {'TRUE' if allowed else 'FALSE'},"
                f" {'NULL' if delay is None else delay}, {n_sm})")
    return (
        "SELECT CAST(file_id AS BIGINT) AS file_id, probe,"
        " group_used, matched_rule,"
        " CAST(rule_len AS INTEGER) AS rule_len,"
        " CAST(allowed AS BOOLEAN) AS allowed,"
        " CAST(crawl_delay AS INTEGER) AS crawl_delay,"
        " CAST(n_sitemaps AS INTEGER) AS n_sitemaps"
        f" FROM (VALUES {', '.join(rows)})"
        " t(file_id, probe, group_used, matched_rule, rule_len,"
        " allowed, crawl_delay, n_sitemaps)")


@register("data_robots_decisions", _robots_fixture_sql())
def data_robots_decisions(spark, sf_dir):
    """robots.txt crawl decisions via the HAND-ROLLED RFC 9309 engine
    (sources/robotsfile): user-agent GROUPS where a specific group
    SUPPRESSES the '*' fallback entirely (probes that would match a
    fallback rule come out allowed when the bot has its own group —
    the leak readers get wrong), consecutive user-agent lines sharing
    one rule block, '*' wildcards and '$' end anchors, and the
    longest-match precedence with ALLOW winning exact ties; empty
    disallow, comments and unknown directives tolerated per spec;
    crawl-delay per group and group-independent sitemaps collected.
    Five probe paths are decided against 30 fixture files whose
    expected verdicts the oracle derives INDEPENDENTLY from the
    grammar's variant arithmetic, never through the parser.
    Completes the acquisition trio (WARC records, URL
    canonicalization, crawl politeness); one mapInPandas, fully
    distributed."""
    from .sources.robotsfile import robots_decisions, synthetic_robots
    return robots_decisions(synthetic_robots(spark, 30))


_HTML_EXTRACT_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text),
             '[^a-z ]', '', 'g'), ' '), x -> x != '')[1:80] AS ws
  FROM documents ORDER BY doc_id LIMIT 200
), parts AS (
  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
         CAST(greatest(len(ws) - 3, 0) AS BIGINT) AS m
  FROM w
), toks AS (
  SELECT doc_id, m, n,
    array_to_string(ws[1:CAST(least(3, n) AS INTEGER)], ' ') AS h1,
    CASE WHEN m > 0 THEN ' ' || array_to_string(
      flatten(list_transform(range(1, CAST(m AS INTEGER) + 1), j ->
        CASE WHEN j % 11 = 0
        THEN [CASE WHEN j % 7 = 0
              THEN 'AT&T-' || ws[CAST(j + 3 AS INTEGER)]
              ELSE ws[CAST(j + 3 AS INTEGER)] END, chr(8212)]
        ELSE [CASE WHEN j % 7 = 0
              THEN 'AT&T-' || ws[CAST(j + 3 AS INTEGER)]
              ELSE ws[CAST(j + 3 AS INTEGER)] END] END)), ' ')
    ELSE '' END AS para,
    CASE WHEN m > 0 THEN array_to_string(
      flatten(list_transform(range(1, CAST(m AS INTEGER) + 1), j ->
        CASE WHEN j % 11 = 0
        THEN [CASE WHEN j % 5 = 0 THEN '<b>' ELSE '' END
              || (CASE WHEN j % 7 = 0
                  THEN 'AT&amp;T-' || ws[CAST(j + 3 AS INTEGER)]
                  ELSE ws[CAST(j + 3 AS INTEGER)] END)
              || CASE WHEN j % 5 = 0 THEN '</b>' ELSE '' END,
              '&#8212;']
        ELSE [CASE WHEN j % 5 = 0 THEN '<b>' ELSE '' END
              || (CASE WHEN j % 7 = 0
                  THEN 'AT&amp;T-' || ws[CAST(j + 3 AS INTEGER)]
                  ELSE ws[CAST(j + 3 AS INTEGER)] END)
              || CASE WHEN j % 5 = 0 THEN '</b>' ELSE '' END]
        END)), ' ')
    ELSE '' END AS para_html
  FROM parts
), fin AS (
  SELECT doc_id, m,
         h1 || para AS expected,
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
         || '</title><script>var x = "<p>leak</p>";</script>'
         || '<style>.c { color: red } /* <p>leak</p> */</style>'
         || '</head><body><h1>' || h1 || '</h1><p>' || para_html
         || '</p></body></html>' AS html
  FROM toks
)
SELECT doc_id, CAST(length(html) AS INTEGER) AS html_len,
       CAST(length(expected) AS INTEGER) AS text_len,
       CAST(8 + 2 * (m // 5) AS INTEGER) AS n_tags_stripped,
       CAST(m // 7 + m // 11 AS INTEGER) AS n_entities,
       md5(expected) AS extracted_md5
FROM fin
"""


@register("data_html_extract", _HTML_EXTRACT_SQL)
def data_html_extract(spark, sf_dir):
    """HTML main-text extraction — the step between a fetched WARC
    response and training text, exercised on deterministic markup
    wrapped around real document words (sources/htmlextract): the
    GENERIC extractor removes <script>/<style> WITH their contents
    (both contain a planted literal '<p>leak</p>' that a naive
    strip-all-tags regex would surface as text), drops the <head>
    block (titles are metadata), walks remaining tags out, decodes
    the five named entities plus decimal numeric references
    ('&amp;' inside every 7th word, an '&#8212;' em-dash after every
    11th), and collapses whitespace. The oracle derives the expected
    text INDEPENDENTLY from word arithmetic — never the extractor —
    so a leaked script body, surviving tag or undecoded entity flips
    the md5; tag and entity counts ride along. mapInPandas over
    (doc_id, text), the 10^9-document shape; reference analog:
    core/document_processor.py:91-177 (PDF text extraction — the same
    stage for web corpora)."""
    from .sources.htmlextract import html_extract_manifest
    docs = (_t(spark, sf_dir, "documents").orderBy("doc_id")
            .limit(200).select("doc_id", "text"))
    return html_extract_manifest(docs)


_CRAWL_SCHED_SQL = """
WITH u AS (
  SELECT CAST(user_id % 7 AS BIGINT) AS host,
         epoch_us(CAST(ts AS TIMESTAMP)) AS disc_us, event_id
  FROM (SELECT * FROM events ORDER BY ts, event_id LIMIT 2000)
), idx AS (
  SELECT host, disc_us, event_id,
         CAST(row_number() OVER (PARTITION BY host
                                 ORDER BY disc_us, event_id)
              AS BIGINT) AS i,
         (1 + host) * 1000000 AS delay_us
  FROM u
), adj AS (
  SELECT *, disc_us - delay_us * (i - 1) AS a FROM idx
), sched AS (
  SELECT host, i, disc_us, delay_us,
         delay_us * (i - 1)
           + max(a) OVER (PARTITION BY host ORDER BY i) AS fetch_us
  FROM adj
), gaps AS (
  SELECT *, fetch_us - lag(fetch_us)
             OVER (PARTITION BY host ORDER BY i) AS gap
  FROM sched
)
SELECT host, i AS idx, disc_us, fetch_us,
       fetch_us - disc_us AS wait_us,
       gap IS NULL OR gap >= delay_us AS compliant
FROM gaps
"""


@register("data_crawl_schedule", _CRAWL_SCHED_SQL)
def data_crawl_schedule(spark, sf_dir):
    """Politeness-constrained crawl scheduling over a discovered URL
    frontier (hosts = user buckets, per-host crawl delay 1+host
    seconds as a robots.txt Crawl-delay would dictate): each fetch
    fires at max(discovery, previous fetch + delay) — the
    sequential-looking Lindley-style recurrence collapsed to its
    EXACT max-plus closed form fetch_i = delay·(i-1) +
    running-max(disc_j - delay·(j-1)), one window per host partition,
    no sequential pass (the same prefix trick as the G/G/1 replay).
    Every scheduled fetch is emitted with its wait time and a
    per-fetch compliance audit (gap >= delay) that must come out
    TRUE; a wrong closed form shows up as either a violated gap or a
    needlessly late fetch. Binds the acquisition trio (robots delay,
    URL frontier) into the dispatcher a 10^11-URL crawler shards by
    host."""
    u = (_t(spark, sf_dir, "events").orderBy("ts", "event_id")
         .limit(2000)
         .select((F.col("user_id") % 7).alias("host"),
                 F.unix_micros(F.col("ts").cast("timestamp"))
                 .alias("disc_us"), "event_id"))
    wp = Window.partitionBy("host").orderBy("disc_us", "event_id")
    idx = u.select(
        "host", "disc_us",
        F.row_number().over(wp).cast("long").alias("i"),
        ((F.col("host") + 1) * 1000000).alias("delay_us"))
    adj = idx.withColumn(
        "a", F.col("disc_us") - F.col("delay_us") * (F.col("i") - 1))
    wi = Window.partitionBy("host").orderBy("i")
    sched = adj.withColumn(
        "fetch_us",
        F.col("delay_us") * (F.col("i") - 1) + F.max("a").over(wi))
    gaps = sched.withColumn(
        "gap", F.col("fetch_us") - F.lag("fetch_us").over(wi))
    return gaps.select(
        "host", F.col("i").alias("idx"), "disc_us", "fetch_us",
        (F.col("fetch_us") - F.col("disc_us")).alias("wait_us"),
        (F.col("gap").isNull()
         | (F.col("gap") >= F.col("delay_us"))).alias("compliant"))


_RING_M = 1 << 60  # 60-bit hash ring: md5-prefix positions stay in BIGINT

_SHARD_RING_SQL = """
WITH uh AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid,
         CAST(concat('0x', substr(md5('key:' || CAST(user_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS h
  FROM events
), vn AS (
  SELECT n.node,
         CAST(concat('0x', substr(md5('vnode:' || n.node || ':'
                                      || CAST(v.v AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS p
  FROM (VALUES ('n0'),('n1'),('n2'),('n3'),('n4')) n(node)
  CROSS JOIN (SELECT unnest(range(0, 16)) AS v) v
), ring AS (
  SELECT uh.uid,
         min(CASE WHEN vn.node <> 'n4' THEN
           lpad(CAST((vn.p - uh.h + 1152921504606846976)
                     % 1152921504606846976 AS VARCHAR), 19, '0')
           || '|' || vn.node END) AS kb,
         min(lpad(CAST((vn.p - uh.h + 1152921504606846976)
                       % 1152921504606846976 AS VARCHAR), 19, '0')
             || '|' || vn.node) AS ka
  FROM uh CROSS JOIN vn GROUP BY uh.uid
), hrw AS (
  SELECT uh.uid,
         max(CASE WHEN n.node <> 'n4' THEN
           substr(md5('hrw:' || n.node || ':' || uh.uid), 1, 16)
           || '|' || n.node END) AS kb,
         max(substr(md5('hrw:' || n.node || ':' || uh.uid), 1, 16)
             || '|' || n.node) AS ka
  FROM uh CROSS JOIN (VALUES ('n0'),('n1'),('n2'),('n3'),('n4')) n(node)
  GROUP BY uh.uid
)
SELECT CAST(r.uid AS BIGINT) AS user_id,
       split_part(r.kb, '|', 2) AS ring_before,
       split_part(r.ka, '|', 2) AS ring_after,
       split_part(r.kb, '|', 2) <> split_part(r.ka, '|', 2) AS ring_moved,
       (split_part(r.kb, '|', 2) = split_part(r.ka, '|', 2)
        OR split_part(r.ka, '|', 2) = 'n4') AS ring_min_disruption,
       split_part(w.kb, '|', 2) AS hrw_before,
       split_part(w.ka, '|', 2) AS hrw_after,
       split_part(w.kb, '|', 2) <> split_part(w.ka, '|', 2) AS hrw_moved,
       (split_part(w.kb, '|', 2) = split_part(w.ka, '|', 2)
        OR split_part(w.ka, '|', 2) = 'n4') AS hrw_min_disruption
FROM ring r JOIN hrw w ON w.uid = r.uid
"""


@register("q_shard_placement_ring", _SHARD_RING_SQL)
def q_shard_placement_ring(spark, sf_dir):
    """Consistent-hash ring (16 virtual nodes per physical node, 60-bit
    md5 positions, clockwise-successor ownership) and rendezvous/HRW
    hashing (argmax of md5(node,key), the vnode-free alternative) assign
    every distinct user to 4 shard nodes — then node n4 JOINS and both
    assignments are recomputed, with the minimal-disruption theorem the
    whole construction exists for PINNED per key: a key that changes
    owner must land on the new node (moves between survivors would mean
    re-sharding traffic proportional to K, not K/n). Both placements are
    pure broadcast cross-joins (80 ring positions / 5 nodes) + one
    per-key aggregate — the shard-routing primitive behind partition
    assignment, cache placement and shuffle-service routing at 1000
    executors, fully distributed, no collect. Clockwise distance and
    argmin/argmax run on zero-padded fixed-width keys so lexicographic
    min/max IS numeric order in both engines; ties (astronomically
    unlikely 60-bit collisions) break on the node suffix identically."""
    e = _t(spark, sf_dir, "events")
    uh = (e.select(F.col("user_id").cast("string").alias("uid")).distinct()
          .withColumn("h", F.conv(F.substring(F.md5(
              F.concat(F.lit("key:"), F.col("uid"))), 1, 15), 16, 10)
              .cast("long")))
    nodes = spark.createDataFrame([(f"n{i}",) for i in range(5)],
                                  "node string")
    vn = (nodes.crossJoin(spark.range(16).select(
              F.col("id").cast("string").alias("v")))
          .withColumn("p", F.conv(F.substring(F.md5(F.concat_ws(
              "", F.lit("vnode:"), F.col("node"), F.lit(":"),
              F.col("v"))), 1, 15), 16, 10).cast("long")))
    dist = (F.col("p") - F.col("h") + F.lit(_RING_M)) % F.lit(_RING_M)
    rk = F.concat(F.lpad(dist.cast("string"), 19, "0"), F.lit("|"),
                  F.col("node"))
    ring = (uh.crossJoin(F.broadcast(vn)).withColumn("k", rk)
            .groupBy("uid")
            .agg(F.min(F.when(F.col("node") != "n4", F.col("k")))
                 .alias("kb"),
                 F.min("k").alias("ka")))
    hk = F.concat(F.substring(F.md5(F.concat_ws(
        "", F.lit("hrw:"), F.col("node"), F.lit(":"), F.col("uid"))),
        1, 16), F.lit("|"), F.col("node"))
    hrw = (uh.crossJoin(F.broadcast(nodes)).withColumn("k", hk)
           .groupBy("uid")
           .agg(F.max(F.when(F.col("node") != "n4", F.col("k")))
                .alias("kb"),
                F.max("k").alias("ka")))
    own = lambda c: F.substring_index(c, "|", -1)  # noqa: E731
    return (ring.join(hrw.withColumnRenamed("kb", "wb")
                      .withColumnRenamed("ka", "wa"), "uid")
            .select(
                F.col("uid").cast("long").alias("user_id"),
                own(F.col("kb")).alias("ring_before"),
                own(F.col("ka")).alias("ring_after"),
                (own(F.col("kb")) != own(F.col("ka"))).alias("ring_moved"),
                ((own(F.col("kb")) == own(F.col("ka")))
                 | (own(F.col("ka")) == F.lit("n4")))
                .alias("ring_min_disruption"),
                own(F.col("wb")).alias("hrw_before"),
                own(F.col("wa")).alias("hrw_after"),
                (own(F.col("wb")) != own(F.col("wa"))).alias("hrw_moved"),
                ((own(F.col("wb")) == own(F.col("wa")))
                 | (own(F.col("wa")) == F.lit("n4")))
                .alias("hrw_min_disruption")))


_MERKLE_SQL = """
WITH RECURSIVE ev AS (
  SELECT md5('ev:' || CAST(event_id AS VARCHAR) || ':'
             || CAST(user_id AS VARCHAR) || ':' || event_type) AS eh,
         md5('ex:' || CAST(event_id AS VARCHAR)) AS exh,
         CAST(CAST(ts AS DATE) AS VARCHAR) AS day
  FROM events
), mn AS (
  SELECT min(exh) AS mex FROM ev
), exd AS (
  SELECT min(CASE WHEN exh = (SELECT mex FROM mn) THEN day END)
         AS excl_day
  FROM ev
), leaves AS (
  SELECT day,
         md5(string_agg(eh, '' ORDER BY eh)) AS ha,
         md5(string_agg(CASE WHEN exh <> (SELECT mex FROM mn)
                        THEN eh END, '' ORDER BY eh)) AS hb
  FROM ev GROUP BY day
), lv AS (
  SELECT 0 AS level,
         list(struct_pack(day := day, ha := ha, hb := hb)
              ORDER BY day) AS l
  FROM leaves
  UNION ALL
  SELECT level + 1,
         list_transform(range(1, (len(l) + 1) // 2 + 1), i ->
           struct_pack(
             day := CAST(NULL AS VARCHAR),
             ha := md5(l[CAST(2 * i - 1 AS INTEGER)].ha
                       || l[CAST(least(2 * i, len(l)) AS INTEGER)].ha),
             hb := md5(l[CAST(2 * i - 1 AS INTEGER)].hb
                       || l[CAST(least(2 * i, len(l)) AS INTEGER)].hb)))
  FROM lv WHERE len(l) > 1
), nodes AS (
  SELECT level, CAST(i - 1 AS INTEGER) AS idx,
         l[CAST(i AS INTEGER)].day AS day,
         l[CAST(i AS INTEGER)].ha AS h_a,
         l[CAST(i AS INTEGER)].hb AS h_b,
         l[CAST(i AS INTEGER)].ha <> l[CAST(i AS INTEGER)].hb AS differs
  FROM lv, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) t
)
SELECT CAST(level AS INTEGER) AS level, idx, day, h_a, h_b, differs,
       CAST(sum(CASE WHEN differs THEN 1 ELSE 0 END)
            OVER (PARTITION BY level) AS BIGINT) AS n_diff_level,
       (level > 0 OR NOT differs
        OR day = (SELECT excl_day FROM exd)) AS locate_ok
FROM nodes
"""


@register("q_events_merkle_diff", _MERKLE_SQL)
def q_events_merkle_diff(spark, sf_dir):
    """Merkle-tree anti-entropy diff (the Dynamo/Cassandra repair and
    rsync-catalog primitive) between two snapshots of the events table:
    per-day leaf digests (md5 of the day's sorted per-row digests — one
    distributed aggregate computes BOTH snapshots via a conditional
    string-agg), snapshot B silently missing one md5-chosen row, then a
    binary hash tree folded over the day-ordered leaves (odd lone child
    promoted Bitcoin-style as md5(h||h)). Every tree node of every level
    is emitted for both snapshots with the two properties that make
    Merkle sync O(log n): exactly ONE differing node per level (the
    ancestor path of the corrupted leaf — n_diff_level pinned 1 in
    tests) and the differing leaf localizing to exactly the day of the
    missing row (locate_ok PINNED per row). Leaf hashing is the
    distributed part (per-day shuffle, scale-true: leaves are partition
    digests, the per-partition lineage artifact of the checkpoint
    design); the tree fold runs over ≤366 bounded partition digests.
    Oracle: identical nested-list recursion, one level per step."""
    import hashlib as _hl
    e = _t(spark, sf_dir, "events")
    eh = F.md5(F.concat_ws(":", F.lit("ev"),
                           F.col("event_id").cast("string"),
                           F.col("user_id").cast("string"),
                           F.col("event_type")))
    exh = F.md5(F.concat(F.lit("ex:"), F.col("event_id").cast("string")))
    base = e.select(eh.alias("eh"), exh.alias("exh"),
                    F.col("ts").cast("date").cast("string").alias("day"))
    mn = base.agg(F.min("exh").alias("mex"))
    j = base.crossJoin(F.broadcast(mn))
    leaves = (j.groupBy("day").agg(
        F.md5(F.array_join(F.sort_array(F.collect_list("eh")), ""))
        .alias("ha"),
        F.md5(F.array_join(F.sort_array(F.collect_list(
            F.when(F.col("exh") != F.col("mex"), F.col("eh")))), ""))
        .alias("hb"),
        F.min(F.when(F.col("exh") == F.col("mex"), F.col("day")))
        .alias("exd"))
        .orderBy("day").collect())
    excl_day = next(r["exd"] for r in leaves if r["exd"] is not None)
    cur = [(r["day"], r["ha"], r["hb"]) for r in leaves]
    md5 = lambda s: _hl.md5(s.encode()).hexdigest()  # noqa: E731
    out, level = [], 0
    while True:
        ndiff = sum(1 for _, ha, hb in cur if ha != hb)
        for idx, (day, ha, hb) in enumerate(cur):
            differs = ha != hb
            loc = (level > 0) or (not differs) or (day == excl_day)
            out.append((level, idx, day, ha, hb, differs, ndiff, loc))
        if len(cur) == 1:
            break
        cur = [(None,
                md5(cur[i][1] + cur[min(i + 1, len(cur) - 1)][1]),
                md5(cur[i][2] + cur[min(i + 1, len(cur) - 1)][2]))
               for i in range(0, len(cur), 2)]
        level += 1
    return spark.createDataFrame(
        out, "level int, idx int, day string, h_a string, h_b string,"
             " differs boolean, n_diff_level long, locate_ok boolean")


_ELIAS_FANO_SQL = """
WITH lists AS (
  SELECT 'type:' || event_type AS list_id, event_id AS x FROM events
  UNION ALL
  SELECT 'v100', event_id FROM events WHERE value >= 100
  UNION ALL
  SELECT 'v300', event_id FROM events WHERE value >= 300
), uu AS (
  SELECT max(event_id) + 1 AS u FROM events
), px AS (
  SELECT list_id, x,
         row_number() OVER (PARTITION BY list_id ORDER BY x) - 1 AS i,
         count(*) OVER (PARTITION BY list_id) AS n,
         max(x) OVER (PARTITION BY list_id) AS mx,
         (SELECT u FROM uu) AS u
  FROM lists
), ef AS (
  SELECT list_id, x, i, n, mx, u,
         greatest(length(bin(u // n)) - 1, 0) AS l
  FROM px
)
SELECT list_id, CAST(i AS BIGINT) AS i, CAST(x AS BIGINT) AS x,
       CAST(x // (CAST(1 AS BIGINT) << l) AS BIGINT) AS hi,
       CAST(x % (CAST(1 AS BIGINT) << l) AS BIGINT) AS lo,
       CAST(i + x // (CAST(1 AS BIGINT) << l) AS BIGINT) AS select_pos,
       ((x // (CAST(1 AS BIGINT) << l)) * (CAST(1 AS BIGINT) << l)
        + x % (CAST(1 AS BIGINT) << l)) = x AS recon_ok,
       CAST(l AS INTEGER) AS l, CAST(n AS BIGINT) AS n_list,
       CAST(u AS BIGINT) AS u,
       CAST(n * l + n + mx // (CAST(1 AS BIGINT) << l) AS BIGINT)
           AS total_bits,
       (n * l + n + mx // (CAST(1 AS BIGINT) << l)) < n * (l + 3)
           AS bound_ok
FROM ef
"""


@register("search_elias_fano_postings", _ELIAS_FANO_SQL)
def search_elias_fano_postings(spark, sf_dir):
    """Elias-Fano encoding of monotone posting lists — the quasi-succinct
    index representation inside modern search engines (Vigna 2013;
    Lucene/Tantivy doc-id blocks): each sorted event-id list is split at
    l = floor(log2(u/n)) bits (computed as length(bin(u div n))-1 — exact
    integer bit math, no float log) into l explicit low bits plus a unary
    high-bit vector in which the i-th element's 1 sits at position
    i + (x_i >> l) — emitted as select_pos, the O(1)-access/select
    identity. Three selectivity tiers exercise the split (per-type dense
    lists, a ~13% filtered list, a ~0.2% rare list whose l jumps to ~9;
    at the smallest scale the rare list is a single element — the n=1
    edge). Per element the reconstruction (hi << l) | lo = x is pinned,
    and per list the size bound total_bits < n*(l+3) — the 2 + log2(u/n)
    bits/element quasi-succinct guarantee in integer form — is pinned
    TRUE. Pure rank windows + expression math, fully distributed; the
    partition key is the list id, exactly how a sharded index builder
    would lay postings out."""
    e = _t(spark, sf_dir, "events")
    lists = (e.select(F.concat(F.lit("type:"), F.col("event_type"))
                      .alias("list_id"), F.col("event_id").alias("x"))
             .union(e.filter(F.col("value") >= 100)
                    .select(F.lit("v100"), F.col("event_id")))
             .union(e.filter(F.col("value") >= 300)
                    .select(F.lit("v300"), F.col("event_id"))))
    uu = e.agg((F.max("event_id") + 1).alias("u"))
    wp = Window.partitionBy("list_id")
    px = (lists
          .select("list_id", "x",
                  (F.row_number().over(wp.orderBy("x")) - 1).alias("i"),
                  F.count(F.lit(1)).over(wp).alias("n"),
                  F.max("x").over(wp).alias("mx"))
          .crossJoin(F.broadcast(uu)))
    ef = px.withColumn(
        "l", F.greatest(F.length(F.bin(F.expr("u div n"))) - 1, F.lit(0)))
    two_l = F.expr("shiftleft(CAST(1 AS BIGINT), l)")
    hi = F.expr("x div shiftleft(CAST(1 AS BIGINT), l)")
    lo = F.col("x") % two_l
    mhi = F.expr("mx div shiftleft(CAST(1 AS BIGINT), l)")
    return ef.select(
        "list_id", F.col("i").cast("long").alias("i"),
        F.col("x").cast("long").alias("x"),
        hi.cast("long").alias("hi"), lo.cast("long").alias("lo"),
        (F.col("i") + hi).cast("long").alias("select_pos"),
        ((hi * two_l + lo) == F.col("x")).alias("recon_ok"),
        F.col("l").cast("int").alias("l"),
        F.col("n").cast("long").alias("n_list"),
        F.col("u").cast("long").alias("u"),
        (F.col("n") * F.col("l") + F.col("n") + mhi).cast("long")
        .alias("total_bits"),
        ((F.col("n") * F.col("l") + F.col("n") + mhi)
         < F.col("n") * (F.col("l") + 3)).alias("bound_ok"))


_AES_SQL = """
WITH d AS (
  SELECT doc_id,
         greatest(len(list_filter(string_split(text, ' '),
                                  x -> x <> '')), 1) AS w
  FROM documents
), pr AS (
  SELECT doc_id, w,
         CAST(floor(1000000.0 * ln(
           (CAST(concat('0x', substr(md5('aes:' ||
              CAST(doc_id AS VARCHAR)), 1, 16)) AS UBIGINT)
            + 1.0) / 18446744073709551616.0) / w) AS BIGINT) AS pr_e6
  FROM d
), rk AS (
  SELECT doc_id, w, pr_e6,
         row_number() OVER (ORDER BY pr_e6 DESC, doc_id) AS rn
  FROM pr
), tau AS (
  SELECT max(CASE WHEN rn = 21 THEN pr_e6 END) AS tau_e6,
         sum(w) AS total_w, count(*) AS n_docs
  FROM rk
)
SELECT CAST(r.rn AS INTEGER) AS rank, r.doc_id, CAST(r.w AS BIGINT) AS w,
       r.pr_e6,
       CAST(t.tau_e6 AS BIGINT) AS tau_e6,
       CAST(t.total_w AS BIGINT) AS total_w,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       r.pr_e6 >= t.tau_e6 AS above_tau
FROM rk r CROSS JOIN tau t WHERE r.rn <= 20
"""


@register("data_weighted_reservoir", _AES_SQL)
def data_weighted_reservoir(spark, sf_dir):
    """Weighted reservoir sample (Efraimidis-Spirakis A-ES, the one-pass
    weighted-sampling primitive behind corpus mixing): each document
    draws an md5-uniform u ∈ (0,1) and competes with priority
    ln(u)/w — the log form of the u^(1/w) key, so heavier documents
    systematically win — and the k=20 largest priorities form the
    sample. Priorities are e6-floored AFTER the double division (ln on
    identical IEEE doubles, the q_events_entropy_rate float-log
    discipline), ties broken by doc_id. The (k+1)-th priority rides
    along as tau (the inclusion threshold a Horvitz-Thompson estimator
    needs) with every kept row pinned ≥ tau. One map-side priority
    expression + one top-k — at scale this is per-partition top-k
    folded by TakeOrdered, no shuffle of the corpus, the exact shape
    of distributed reservoir sampling."""
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", F.greatest(
             F.size(F.filter(F.split("text", " "),
                             lambda x: x != "")), F.lit(1)).alias("w")))
    h = (F.conv(F.substring(F.md5(F.concat(
        F.lit("aes:"), F.col("doc_id").cast("string"))), 1, 16), 16, 10)
        .cast("decimal(20,0)").cast("double"))
    u = (h + 1.0) / 18446744073709551616.0
    pr = d.withColumn(
        "pr_e6",
        F.floor(1000000.0 * F.log(u) / F.col("w")).cast("long"))
    rk = pr.withColumn("rn", F.row_number().over(
        Window.orderBy(F.desc("pr_e6"), "doc_id")))
    tau = rk.agg(F.max(F.when(F.col("rn") == 21, F.col("pr_e6")))
                 .alias("tau_e6"),
                 F.sum("w").alias("total_w"),
                 F.count(F.lit(1)).alias("n_docs"))
    return (rk.filter(F.col("rn") <= 20).crossJoin(F.broadcast(tau))
            .select(F.col("rn").cast("int").alias("rank"), "doc_id",
                    F.col("w").cast("long").alias("w"), "pr_e6",
                    F.col("tau_e6").cast("long").alias("tau_e6"),
                    F.col("total_w").cast("long").alias("total_w"),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    (F.col("pr_e6") >= F.col("tau_e6"))
                    .alias("above_tau")))


_FENWICK_SQL = """
WITH days AS (
  SELECT CAST(dense_rank() OVER (ORDER BY d) AS BIGINT) AS i,
         c
  FROM (SELECT CAST(ts AS DATE) AS d, count(*) AS c
        FROM events GROUP BY 1)
), px AS (
  SELECT i, c, sum(c) OVER (ORDER BY i) AS prefix,
         i - (i & (i - 1)) AS lb
  FROM days
), bit AS (
  SELECT p.i, p.c, p.prefix, p.lb,
         p.prefix - coalesce(q.prefix, 0) AS b
  FROM px p LEFT JOIN px q ON q.i = p.i - p.lb
), bd AS (
  SELECT b.i, sum(d2.c) AS b_direct
  FROM bit b JOIN days d2 ON d2.i > b.i - b.lb AND d2.i <= b.i
  GROUP BY b.i
), probes AS (
  SELECT q,
         sum(CASE WHEN t.i = q - (q % t.lb) THEN t.b ELSE 0 END) AS psum,
         sum(CASE WHEN t.i = q - (q % t.lb) THEN 1 ELSE 0 END) AS pnodes
  FROM (VALUES (5), (17), (23), (30)) v(q), bit t
  GROUP BY q
), pchk AS (
  SELECT p.q, p.psum, p.pnodes,
         p.psum = x.prefix AS sum_ok,
         p.pnodes = bit_count(CAST(p.q AS BIGINT)) AS nodes_ok
  FROM probes p JOIN px x ON x.i = p.q
)
SELECT CAST(t.i AS BIGINT) AS i, CAST(t.c AS BIGINT) AS c,
       CAST(t.prefix AS BIGINT) AS prefix,
       CAST(t.lb AS BIGINT) AS lowbit,
       CAST(t.b AS BIGINT) AS b,
       CAST(d.b_direct AS BIGINT) AS b_direct,
       t.b = d.b_direct AS b_ok,
       CAST(bit_count(CAST(t.i AS BIGINT)) AS INTEGER) AS bits,
       (SELECT CAST(psum AS BIGINT) FROM pchk WHERE q = 5) AS p5_sum,
       (SELECT sum_ok AND nodes_ok FROM pchk WHERE q = 5) AS p5_ok,
       (SELECT CAST(psum AS BIGINT) FROM pchk WHERE q = 17) AS p17_sum,
       (SELECT sum_ok AND nodes_ok FROM pchk WHERE q = 17) AS p17_ok,
       (SELECT CAST(psum AS BIGINT) FROM pchk WHERE q = 23) AS p23_sum,
       (SELECT sum_ok AND nodes_ok FROM pchk WHERE q = 23) AS p23_ok,
       (SELECT CAST(psum AS BIGINT) FROM pchk WHERE q = 30) AS p30_sum,
       (SELECT sum_ok AND nodes_ok FROM pchk WHERE q = 30) AS p30_ok
FROM bit t JOIN bd d ON d.i = t.i
"""


@register("q_events_fenwick_tree", _FENWICK_SQL)
def q_events_fenwick_tree(spark, sf_dir):
    """Fenwick / binary-indexed tree over the daily event counts, built
    WITHOUT any sequential pass: cell b_i = prefix(i) − prefix(i −
    lowbit(i)) (lowbit via i − (i & (i−1)), no negative-AND semantics
    to disagree on), then independently re-derived as a range join over
    the raw days it covers — b_ok pins the two derivations equal. Prefix
    queries at 4 probe positions use the closed-form chain-membership
    test n = q − (q mod lowbit(n)) — the node set a sequential
    lowbit-stripping walk would visit, recognized ARITHMETICALLY so the
    whole decomposition is one conditional aggregate, no loop — with
    both classic BIT theorems pinned: the decomposed sum equals the
    direct prefix sum, and the node count equals popcount(q). The day
    axis is bounded (~366); the counts underneath are one map-side-
    combinable aggregate, so the structure scales as a partition-stats
    index exactly like parquet row-group min/max trees."""
    e = _t(spark, sf_dir, "events")
    days = (e.groupBy(F.col("ts").cast("date").alias("d"))
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.dense_rank().over(Window.orderBy("d"))
                    .cast("long").alias("i"), "c"))
    px = days.select(
        "i", "c", F.sum("c").over(Window.orderBy("i")).alias("prefix"),
        F.expr("i - (i & (i - 1))").alias("lb"))
    bit = (px.alias("p")
           .join(px.select(F.col("i").alias("qi"),
                           F.col("prefix").alias("qprefix")).alias("q"),
                 F.expr("qi = i - lb"), "left")
           .select("i", "c", "prefix", "lb",
                   (F.col("prefix") - F.coalesce(F.col("qprefix"),
                                                 F.lit(0))).alias("b")))
    bd = (bit.alias("b")
          .join(days.select(F.col("i").alias("di"),
                            F.col("c").alias("dc")).alias("d2"),
                F.expr("di > i - lb AND di <= i"))
          .groupBy("i").agg(F.sum("dc").alias("b_direct")))
    probes = spark.createDataFrame([(5,), (17,), (23,), (30,)], "q long")
    pr = (probes.crossJoin(bit)
          .groupBy("q")
          .agg(F.sum(F.when(F.expr("i = q - (q % lb)"), F.col("b"))
                     .otherwise(0)).alias("psum"),
               F.sum(F.when(F.expr("i = q - (q % lb)"), F.lit(1))
                     .otherwise(0)).alias("pnodes")))
    pchk = (pr.join(px.select(F.col("i").alias("q"),
                              F.col("prefix").alias("qpfx")), "q")
            .select("q", "psum", "pnodes",
                    (F.col("psum") == F.col("qpfx")).alias("sum_ok"),
                    (F.col("pnodes") == F.bit_count(F.col("q")))
                    .alias("nodes_ok")))
    aggs = []
    for q in (5, 17, 23, 30):
        aggs.append(F.max(F.when(F.col("q") == q, F.col("psum")))
                    .cast("long").alias(f"p{q}_sum"))
        aggs.append(F.max(F.when(F.col("q") == q,
                                 F.col("sum_ok") & F.col("nodes_ok")))
                    .alias(f"p{q}_ok"))
    pvt = pchk.agg(*aggs)
    out = bit.join(bd, "i").crossJoin(F.broadcast(pvt))
    return out.select(
        F.col("i").cast("long"), F.col("c").cast("long").alias("c"),
        F.col("prefix").cast("long").alias("prefix"),
        F.col("lb").cast("long").alias("lowbit"),
        F.col("b").cast("long").alias("b"),
        F.col("b_direct").cast("long").alias("b_direct"),
        (F.col("b") == F.col("b_direct")).alias("b_ok"),
        F.bit_count("i").cast("int").alias("bits"),
        "p5_sum", "p5_ok", "p17_sum", "p17_ok",
        "p23_sum", "p23_ok", "p30_sum", "p30_ok")


_CACHE_SQL = """
WITH RECURSIVE acc AS (
  SELECT row_number() OVER (ORDER BY event_id) AS p, item
  FROM (SELECT event_id, user_id AS item
        FROM events ORDER BY event_id LIMIT 300)
), nx AS (
  SELECT p, item,
         coalesce(lead(p) OVER (PARTITION BY item ORDER BY p),
                  1000000000 + item) AS nu
  FROM acc
), st AS (
  SELECT 0 AS t, CAST(0 AS BIGINT) AS x,
         false AS lru_hit, false AS opt_hit,
         CAST(0 AS BIGINT) AS lh, CAST(0 AS BIGINT) AS oh,
         CAST([] AS BIGINT[]) AS lru,
         CAST([] AS STRUCT(x BIGINT, nu BIGINT)[]) AS opt,
         (SELECT list(item ORDER BY p) FROM acc) AS xs,
         (SELECT list(nu ORDER BY p) FROM nx) AS nxt
  UNION ALL
  SELECT s.t + 1, t0.x, t1.lhit, t2.ohit,
         s.lh + CASE WHEN t1.lhit THEN 1 ELSE 0 END,
         s.oh + CASE WHEN t2.ohit THEN 1 ELSE 0 END,
         t1.nlru, t3.nopt, s.xs, s.nxt
  FROM st s
  CROSS JOIN LATERAL (
    SELECT s.xs[CAST(s.t + 1 AS INTEGER)] AS x,
           s.nxt[CAST(s.t + 1 AS INTEGER)] AS nu) t0
  CROSS JOIN LATERAL (
    SELECT list_contains(s.lru, t0.x) AS lhit,
           (CASE WHEN list_contains(s.lru, t0.x)
            THEN [t0.x] || list_filter(s.lru, y -> y <> t0.x)
            ELSE ([t0.x] || s.lru)[1:8] END) AS nlru) t1
  CROSS JOIN LATERAL (
    SELECT len(list_filter(s.opt, e -> e.x = t0.x)) > 0 AS ohit) t2
  CROSS JOIN LATERAL (
    SELECT CASE
      WHEN t2.ohit THEN
        list_transform(s.opt, e -> CASE WHEN e.x = t0.x
          THEN struct_pack(x := t0.x, nu := t0.nu) ELSE e END)
      WHEN len(s.opt) < 8 THEN
        s.opt || [struct_pack(x := t0.x, nu := t0.nu)]
      ELSE
        list_filter(s.opt, e -> e.nu <>
          list_max(list_transform(s.opt, q -> q.nu)))
        || [struct_pack(x := t0.x, nu := t0.nu)]
      END AS nopt) t3
  WHERE s.t < 300
), fin AS (
  SELECT lh AS flh, oh AS foh FROM st WHERE t = 300
)
SELECT CAST(s.t AS INTEGER) AS i, s.x AS item, s.lru_hit, s.opt_hit,
       s.lh AS lru_hits, s.oh AS opt_hits,
       (SELECT foh >= flh FROM fin) AS opt_ge_lru,
       CAST(8 AS INTEGER) AS cache_size,
       CAST((SELECT flh FROM fin) AS BIGINT) AS lru_total,
       CAST((SELECT foh FROM fin) AS BIGINT) AS opt_total
FROM st s WHERE s.t >= 1
"""


@register("q_events_cache_replacement", _CACHE_SQL)
def q_events_cache_replacement(spark, sf_dir):
    """LRU versus Belady's OPT (MIN) on the first 300 user accesses with
    a size-8 cache — the cache-replacement duel every buffer-pool and
    shuffle-fetch cache design starts from. LRU is the classic
    move-to-front list; OPT evicts the resident item whose NEXT use is
    farthest in the future, implemented with the standard pointer trick:
    next-use positions are precomputed as one lead() window (position
    of the item's next access, unique by construction; ∞ encoded as
    10⁹+item so even never-again items evict deterministically), and
    each cache entry carries its own next-use pointer which is simply
    refreshed on access — no rescanning of the future at any step. The
    full per-step trajectory is emitted (hits, running counts, one
    wrong eviction anywhere shifts every later hit) with Belady's
    optimality theorem pinned on every row: OPT's final hit count ≥
    LRU's. Engine: bounded driver replay; oracle: identical recursion
    carrying both cache states as lists."""
    C = 8
    rows = (_t(spark, sf_dir, "events").orderBy("event_id").limit(300)
            .select(F.col("user_id").alias("item")).collect())
    xs = [r["item"] for r in rows]
    last_pos: dict = {}
    nxt = [0] * len(xs)
    for p in range(len(xs) - 1, -1, -1):
        nxt[p] = last_pos.get(xs[p], 1000000000 + xs[p])
        last_pos[xs[p]] = p + 1
    lru: list = []
    opt: list = []  # [item, next_use]
    lh = oh = 0
    out = []
    for t, x in enumerate(xs, start=1):
        nu = nxt[t - 1]
        lhit = x in lru
        if lhit:
            lru = [x] + [y for y in lru if y != x]
        else:
            lru = ([x] + lru)[:C]
        ohit = any(e[0] == x for e in opt)
        if ohit:
            opt = [[x, nu] if e[0] == x else e for e in opt]
        elif len(opt) < C:
            opt = opt + [[x, nu]]
        else:
            mx = max(e[1] for e in opt)
            opt = [e for e in opt if e[1] != mx] + [[x, nu]]
        lh += lhit
        oh += ohit
        out.append((t, x, lhit, ohit, lh, oh))
    return spark.createDataFrame(
        [(t, x, lht, oht, a, b, oh >= lh, C, lh, oh)
         for t, x, lht, oht, a, b in out],
        "i int, item long, lru_hit boolean, opt_hit boolean,"
        " lru_hits long, opt_hits long, opt_ge_lru boolean,"
        " cache_size int, lru_total long, opt_total long")


_ROARING_SQL = """
WITH ids AS (
  SELECT event_type AS lst, event_id AS x FROM events
), ch AS (
  SELECT lst, x, x // 65536 AS chunk, x % 65536 AS low,
         CASE WHEN lag(x) OVER (PARTITION BY lst, x // 65536
                                ORDER BY x) = x - 1
              THEN 0 ELSE 1 END AS run_start
  FROM ids
), co AS (
  SELECT lst, chunk, count(*) AS n, sum(run_start) AS runs
  FROM ch GROUP BY lst, chunk
), sz AS (
  SELECT lst, chunk, n, runs,
         8 + 2 * n AS array_bytes,
         8 + 8192 AS bitmap_bytes,
         8 + 2 + 4 * runs AS run_bytes
  FROM co
), pick AS (
  SELECT lst, chunk, n, runs, array_bytes, bitmap_bytes, run_bytes,
         CASE
           WHEN n <= 4096 AND array_bytes <= run_bytes THEN 'array'
           WHEN run_bytes < bitmap_bytes
                AND (n > 4096 OR run_bytes < array_bytes) THEN 'run'
           ELSE 'bitmap' END AS container
  FROM sz
), tot AS (
  SELECT sum(CASE container WHEN 'array' THEN array_bytes
             WHEN 'run' THEN run_bytes ELSE bitmap_bytes END)
         AS total_bytes,
         sum(4 * n) AS plain_bytes
  FROM pick
)
SELECT p.lst AS list_id, CAST(p.chunk AS BIGINT) AS chunk,
       CAST(p.n AS BIGINT) AS n, CAST(p.runs AS BIGINT) AS runs,
       CAST(p.array_bytes AS BIGINT) AS array_bytes,
       CAST(p.bitmap_bytes AS BIGINT) AS bitmap_bytes,
       CAST(p.run_bytes AS BIGINT) AS run_bytes,
       p.container,
       CAST(CASE p.container WHEN 'array' THEN p.array_bytes
            WHEN 'run' THEN p.run_bytes
            ELSE p.bitmap_bytes END AS BIGINT) AS chosen_bytes,
       (CASE p.container WHEN 'array' THEN p.array_bytes
        WHEN 'run' THEN p.run_bytes ELSE p.bitmap_bytes END)
       <= least(CASE WHEN p.n <= 4096 THEN p.array_bytes
                ELSE p.bitmap_bytes END, p.bitmap_bytes, p.run_bytes)
       AS minimal_ok,
       CAST(t.total_bytes AS BIGINT) AS total_bytes,
       CAST(t.plain_bytes AS BIGINT) AS plain_bytes
FROM pick p CROSS JOIN tot t
"""


@register("search_roaring_layout", _ROARING_SQL)
def search_roaring_layout(spark, sf_dir):
    """Roaring-bitmap container layout for the per-type event-id sets —
    the compressed-bitmap format behind Lucene/Druid/ClickHouse filter
    indexes: ids split into 2¹⁶-value chunks, each chunk choosing among
    an array container (2 bytes/id, only legal ≤ 4096 ids), a fixed 8 KiB
    bitmap, or a run container (4 bytes/run, runs counted exactly via
    one lag window detecting x−1 gaps) — the genuine Roaring decision
    rule, with the chosen container's minimality over the legal
    alternatives pinned per chunk and corpus totals against plain 4-byte
    ids riding every row. The selectivity regimes flip the decision by
    scale: sparse per-type chunks pick arrays at small corpora and the
    dense interleaved chunks at sf0.1 flip to bitmaps (interleaving
    shatters runs, so run containers lose exactly as they do in
    production). All grouping + window arithmetic, fully distributed by
    (list, chunk) — the same key a sharded index builder partitions by."""
    e = _t(spark, sf_dir, "events")
    ch = (e.select(F.col("event_type").alias("lst"),
                   F.col("event_id").alias("x"))
          .withColumn("chunk", F.expr("x div 65536"))
          .withColumn("run_start", F.when(
              F.lag("x").over(Window.partitionBy("lst", "chunk")
                              .orderBy("x")) == F.col("x") - 1, 0)
              .otherwise(1)))
    co = (ch.groupBy("lst", "chunk")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum("run_start").alias("runs")))
    sz = (co.withColumn("array_bytes", 8 + 2 * F.col("n"))
          .withColumn("bitmap_bytes", F.lit(8 + 8192))
          .withColumn("run_bytes", 8 + 2 + 4 * F.col("runs")))
    pick = sz.withColumn("container", F.when(
        (F.col("n") <= 4096) & (F.col("array_bytes")
                                <= F.col("run_bytes")), "array")
        .when((F.col("run_bytes") < F.col("bitmap_bytes"))
              & ((F.col("n") > 4096)
                 | (F.col("run_bytes") < F.col("array_bytes"))), "run")
        .otherwise("bitmap"))
    chosen = (F.when(F.col("container") == "array", F.col("array_bytes"))
              .when(F.col("container") == "run", F.col("run_bytes"))
              .otherwise(F.col("bitmap_bytes")))
    tot = pick.agg(F.sum(chosen).alias("total_bytes"),
                   F.sum(4 * F.col("n")).alias("plain_bytes"))
    return (pick.crossJoin(F.broadcast(tot))
            .select(F.col("lst").alias("list_id"),
                    F.col("chunk").cast("long").alias("chunk"),
                    F.col("n").cast("long").alias("n"),
                    F.col("runs").cast("long").alias("runs"),
                    F.col("array_bytes").cast("long").alias("array_bytes"),
                    F.col("bitmap_bytes").cast("long")
                    .alias("bitmap_bytes"),
                    F.col("run_bytes").cast("long").alias("run_bytes"),
                    "container",
                    chosen.cast("long").alias("chosen_bytes"),
                    (chosen <= F.least(
                        F.when(F.col("n") <= 4096, F.col("array_bytes"))
                        .otherwise(F.col("bitmap_bytes")),
                        F.col("bitmap_bytes"), F.col("run_bytes")))
                    .alias("minimal_ok"),
                    F.col("total_bytes").cast("long").alias("total_bytes"),
                    F.col("plain_bytes").cast("long")
                    .alias("plain_bytes")))


_ZONEMAP_SQL = """
WITH ev AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
), zm AS (
  SELECT day, min(v) AS zmin, max(v) AS zmax, count(*) AS n,
         sum(CASE WHEN v BETWEEN 0 AND 1000 THEN 1 ELSE 0 END) AS m1,
         sum(CASE WHEN v BETWEEN 10000 AND 20000 THEN 1 ELSE 0 END)
           AS m2,
         sum(CASE WHEN v BETWEEN 40000 AND 50000 THEN 1 ELSE 0 END)
           AS m3,
         sum(CASE WHEN v BETWEEN 25000 AND 26000 THEN 1 ELSE 0 END)
           AS m4
  FROM ev GROUP BY day
), px AS (
  SELECT z.day, z.zmin, z.zmax, z.n, p.probe, p.lo, p.hi,
         CASE p.probe WHEN 1 THEN z.m1 WHEN 2 THEN z.m2
              WHEN 3 THEN z.m3 ELSE z.m4 END AS matches,
         (z.zmax < p.lo OR z.zmin > p.hi) AS pruned
  FROM zm z CROSS JOIN (VALUES (1, 0, 1000), (2, 10000, 20000),
                               (3, 40000, 50000), (4, 25000, 26000))
                       p(probe, lo, hi)
)
SELECT day, CAST(probe AS INTEGER) AS probe,
       CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
       CAST(zmin AS BIGINT) AS zmin_e2, CAST(zmax AS BIGINT) AS zmax_e2,
       CAST(n AS BIGINT) AS n_rows, CAST(matches AS BIGINT) AS matches,
       pruned,
       NOT (pruned AND matches > 0) AS sound_ok,
       (NOT pruned AND matches = 0) AS false_keep,
       CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END)
            OVER (PARTITION BY probe) AS BIGINT) AS pruned_parts,
       CAST(sum(CASE WHEN NOT pruned AND matches = 0 THEN 1 ELSE 0 END)
            OVER (PARTITION BY probe) AS BIGINT) AS false_keeps,
       CAST(count(*) OVER (PARTITION BY probe) AS BIGINT) AS total_parts
FROM px
"""


@register("q_events_zonemap_pruning", _ZONEMAP_SQL)
def q_events_zonemap_pruning(spark, sf_dir):
    """Zone-map (min/max statistics) partition pruning audit — the
    mechanism behind parquet row-group skipping and every warehouse's
    partition elimination: per day-partition min/max of the value
    column (kept exact as cents), then four range probes of graded
    selectivity decide prune/keep per partition, with the SOUNDNESS
    contract pinned on every (partition, probe) row — a pruned
    partition must contain ZERO matching rows (the exact match counts
    for all four probes ride out of the SAME single aggregate pass as
    the zone maps, so the audit costs no extra scan). The false-keep
    count per probe (kept partitions with no matches — the clustering-
    quality signal that motivates z-ordering) and pruned-partition
    totals ride along as window columns. One map-side-combinable
    aggregate + a 4-row broadcast: the exact plan shape of stats-based
    pruning at any scale."""
    e = _t(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100 + 0.5).cast("long")
    probes = [(1, 0, 1000), (2, 10000, 20000),
              (3, 40000, 50000), (4, 25000, 26000)]
    aggs = [F.min("v").alias("zmin"), F.max("v").alias("zmax"),
            F.count(F.lit(1)).alias("n")]
    for pid, lo, hi in probes:
        aggs.append(F.sum(F.when(F.col("v").between(lo, hi), 1)
                          .otherwise(0)).alias(f"m{pid}"))
    zm = (e.select(F.col("ts").cast("date").cast("string").alias("day"),
                   v.alias("v"))
          .groupBy("day").agg(*aggs))
    pdf = spark.createDataFrame(probes, "probe int, lo long, hi long")
    px = (zm.crossJoin(F.broadcast(pdf))
          .withColumn("matches",
                      F.when(F.col("probe") == 1, F.col("m1"))
                      .when(F.col("probe") == 2, F.col("m2"))
                      .when(F.col("probe") == 3, F.col("m3"))
                      .otherwise(F.col("m4")))
          .withColumn("pruned", (F.col("zmax") < F.col("lo"))
                      | (F.col("zmin") > F.col("hi"))))
    wp = Window.partitionBy("probe")
    return px.select(
        "day", F.col("probe").cast("int").alias("probe"),
        F.col("lo").cast("long"), F.col("hi").cast("long"),
        F.col("zmin").cast("long").alias("zmin_e2"),
        F.col("zmax").cast("long").alias("zmax_e2"),
        F.col("n").cast("long").alias("n_rows"),
        F.col("matches").cast("long").alias("matches"),
        "pruned",
        (~(F.col("pruned") & (F.col("matches") > 0))).alias("sound_ok"),
        ((~F.col("pruned")) & (F.col("matches") == 0))
        .alias("false_keep"),
        F.sum(F.when(F.col("pruned"), 1).otherwise(0)).over(wp)
        .cast("long").alias("pruned_parts"),
        F.sum(F.when((~F.col("pruned")) & (F.col("matches") == 0), 1)
              .otherwise(0)).over(wp).cast("long").alias("false_keeps"),
        F.count(F.lit(1)).over(wp).cast("long").alias("total_parts"))


_LSM_SQL = """
WITH RECURSIVE fl AS (
  SELECT CAST(dense_rank() OVER (ORDER BY d) AS BIGINT) AS i, c AS sz
  FROM (SELECT CAST(ts AS DATE) AS d, count(*) AS c
        FROM events GROUP BY 1)
), tot AS (
  SELECT sum(sz) AS total, count(*) AS nf,
         sum(sz) // 10 AS l1max
  FROM fl
), st AS (
  SELECT 0 AS t, CAST(0 AS BIGINT) AS lw, CAST(0 AS BIGINT) AS tw,
         CAST(0 AS BIGINT) AS l1, CAST(0 AS BIGINT) AS l2,
         list_transform(range(1, 7), x ->
           struct_pack(cnt := CAST(0 AS BIGINT),
                       sz := CAST(0 AS BIGINT))) AS tiers,
         CAST(0 AS BIGINT) AS lstep, CAST(0 AS BIGINT) AS tstep,
         (SELECT list(sz ORDER BY i) FROM fl) AS xs
  UNION ALL
  SELECT s.t + 1, s.lw + lv.wr, s.tw + t0.f + tb.w1 + tc.w2,
         lv.nl1, lv.nl2, tc.tr2, lv.wr, t0.f + tb.w1 + tc.w2, s.xs
  FROM st s
  CROSS JOIN LATERAL (
    SELECT s.xs[CAST(s.t + 1 AS INTEGER)] AS f) t0
  CROSS JOIN LATERAL (
    SELECT CASE WHEN s.l1 + t0.f > (SELECT l1max FROM tot)
           THEN t0.f + s.l1 + (s.l1 + t0.f + s.l2)
           ELSE t0.f + s.l1 END AS wr,
           CASE WHEN s.l1 + t0.f > (SELECT l1max FROM tot)
           THEN CAST(0 AS BIGINT) ELSE s.l1 + t0.f END AS nl1,
           CASE WHEN s.l1 + t0.f > (SELECT l1max FROM tot)
           THEN s.l2 + s.l1 + t0.f ELSE s.l2 END AS nl2) lv
  CROSS JOIN LATERAL (
    SELECT list_transform(s.tiers, (e, x) -> CASE WHEN x = 1
             THEN struct_pack(cnt := e.cnt + 1, sz := e.sz + t0.f)
             ELSE e END) AS tr0) ta
  CROSS JOIN LATERAL (
    SELECT ta.tr0[1].cnt AS c1, ta.tr0[1].sz AS s1) ta1
  CROSS JOIN LATERAL (
    SELECT CASE WHEN ta1.c1 >= 4 THEN ta1.s1
           ELSE CAST(0 AS BIGINT) END AS w1,
           CASE WHEN ta1.c1 >= 4 THEN
             list_transform(ta.tr0, (e, x) -> CASE
               WHEN x = 1 THEN struct_pack(cnt := CAST(0 AS BIGINT),
                                           sz := CAST(0 AS BIGINT))
               WHEN x = 2 THEN struct_pack(cnt := e.cnt + 1,
                                           sz := e.sz + ta1.s1)
               ELSE e END)
           ELSE ta.tr0 END AS tr1) tb
  CROSS JOIN LATERAL (
    SELECT tb.tr1[2].cnt AS c2, tb.tr1[2].sz AS s2) tb1
  CROSS JOIN LATERAL (
    SELECT CASE WHEN tb1.c2 >= 4
           THEN tb1.s2 ELSE CAST(0 AS BIGINT) END AS w2,
           CASE WHEN tb1.c2 >= 4 THEN
             list_transform(tb.tr1, (e, x) -> CASE
               WHEN x = 2 THEN struct_pack(cnt := CAST(0 AS BIGINT),
                                           sz := CAST(0 AS BIGINT))
               WHEN x = 3 THEN struct_pack(cnt := e.cnt + 1,
                                           sz := e.sz + tb1.s2)
               ELSE e END)
           ELSE tb.tr1 END AS tr2) tc
  WHERE s.t < (SELECT nf FROM tot)
), fin AS (
  SELECT lw, tw, l1, l2,
         tiers[1].sz + tiers[2].sz + tiers[3].sz + tiers[4].sz
           + tiers[5].sz + tiers[6].sz AS tiered_stored
  FROM st WHERE t = (SELECT nf FROM tot)
)
SELECT CAST(s.t AS INTEGER) AS flush,
       s.xs[CAST(s.t AS INTEGER)] AS bytes_in,
       s.lstep AS leveled_written, s.tstep AS tiered_written,
       s.lw AS leveled_cum, s.tw AS tiered_cum,
       CAST((SELECT lw FROM fin) * 1000000
            // (SELECT total FROM tot) AS BIGINT) AS wa_leveled_e6,
       CAST((SELECT tw FROM fin) * 1000000
            // (SELECT total FROM tot) AS BIGINT) AS wa_tiered_e6,
       (SELECT lw FROM fin) >= (SELECT tw FROM fin)
         AS leveled_writes_more,
       (SELECT l1 + l2 FROM fin) = (SELECT total FROM tot)
         AS leveled_conserved,
       (SELECT tiered_stored FROM fin) = (SELECT total FROM tot)
         AS tiered_conserved
FROM st s WHERE s.t >= 1
"""


@register("q_events_lsm_compaction", _LSM_SQL)
def q_events_lsm_compaction(spark, sf_dir):
    """LSM compaction strategy duel — leveled (RocksDB-style: every
    flush rewrites L1, overflow past total/10 pushes the whole of L1
    into L2 rewriting both) versus size-tiered (Cassandra/universal:
    4 runs per tier trigger a tier merge cascading upward), replayed
    over the 30 daily flush sizes with per-flush write costs, both
    cumulative write totals, and the e6 write-amplification factors.
    Pinned: byte conservation in BOTH final structures (stored ==
    ingested — a compaction that loses or duplicates bytes is wrong),
    and the structural trade every storage-engine paper states —
    leveled writes more than tiered on the same ingest (it buys read
    amplification with write amplification; deterministic here and
    stable across scales since flush sizes scale proportionally).
    Flush sizes are one map-side day aggregate; the 30-step state
    machine is bounded planner work. Engine: driver replay; oracle:
    identical recursion with per-tier (count, size) state and the
    two-level cascade unrolled (tier counts never exceed level 3 at
    30 flushes of 4-fold fanout)."""
    e = _t(spark, sf_dir, "events")
    days = (e.groupBy(F.col("ts").cast("date").alias("d"))
            .agg(F.count(F.lit(1)).alias("c")).orderBy("d").collect())
    xs = [int(r["c"]) for r in days]
    total = sum(xs)
    l1max = total // 10
    l1 = l2 = lw = tw = 0
    tiers = [[0, 0] for _ in range(6)]  # [cnt, sz]
    rows = []
    for t, f in enumerate(xs, start=1):
        # leveled
        if l1 + f > l1max:
            lstep = f + l1 + (l1 + f + l2)
            l2 += l1 + f
            l1 = 0
        else:
            lstep = f + l1
            l1 += f
        lw += lstep
        # tiered: flush into tier 0 (cost f), cascade merges
        tstep = f
        tiers[0][0] += 1
        tiers[0][1] += f
        if tiers[0][0] >= 4:
            tstep += tiers[0][1]
            tiers[1][0] += 1
            tiers[1][1] += tiers[0][1]
            tiers[0] = [0, 0]
            if tiers[1][0] >= 4:
                tstep += tiers[1][1]
                tiers[2][0] += 1
                tiers[2][1] += tiers[1][1]
                tiers[1] = [0, 0]
        tw += tstep
        rows.append((t, f, lstep, tstep, lw, tw))
    stored = sum(s for _, s in tiers)
    out = [(t, f, ls, ts_, lc, tc,
            lw * 1000000 // total, tw * 1000000 // total,
            lw >= tw, l1 + l2 == total, stored == total)
           for t, f, ls, ts_, lc, tc in rows]
    return spark.createDataFrame(
        out, "flush int, bytes_in long, leveled_written long,"
             " tiered_written long, leveled_cum long, tiered_cum long,"
             " wa_leveled_e6 long, wa_tiered_e6 long,"
             " leveled_writes_more boolean, leveled_conserved boolean,"
             " tiered_conserved boolean")


_RH_N = 200     # keys (doc_ids < 200)
_RH_M = 256     # table slots


_ROBINHOOD_SQL = """
WITH RECURSIVE keys AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('rh:' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 256 AS home
  FROM documents WHERE doc_id < 200
), lp AS (
  -- literal FCFS linear probing, one key per step (order-dependent)
  SELECT 0 AS t, list_transform(range(1, 257), x ->
           CAST(-1 AS BIGINT)) AS slots,
         (SELECT list(doc_id ORDER BY doc_id) FROM keys) AS ids,
         (SELECT list(home ORDER BY doc_id) FROM keys) AS homes
  UNION ALL
  SELECT s.t + 1, t2.ns, s.ids, s.homes
  FROM lp s
  CROSS JOIN LATERAL (
    SELECT s.ids[CAST(s.t + 1 AS INTEGER)] AS id,
           s.homes[CAST(s.t + 1 AS INTEGER)] AS home) t0
  CROSS JOIN LATERAL (
    SELECT list_min(list_transform(s.slots, (e, i) ->
             CASE WHEN e = -1
             THEN (i - 1 - t0.home + 256) % 256 ELSE 999 END)) AS d) t1
  CROSS JOIN LATERAL (
    SELECT ((t0.home + t1.d) % 256) + 1 AS pos) t1b
  CROSS JOIN LATERAL (
    SELECT list_transform(s.slots, (e, i) ->
             CASE WHEN i = t1b.pos THEN t0.id ELSE e END) AS ns) t2
  WHERE s.t < 200
), lpfin AS (
  SELECT slots FROM lp WHERE t = 200
), lpp AS (
  SELECT CAST(e AS BIGINT) AS doc_id, CAST(i - 1 AS BIGINT) AS slot
  FROM lpfin, LATERAL (
    SELECT unnest(slots) AS e,
           unnest(generate_series(1, len(slots))) AS i) u
  WHERE e >= 0
), hq AS (
  SELECT g.h,
         coalesce((SELECT list(k.doc_id ORDER BY k.doc_id)
                   FROM keys k WHERE k.home = g.h), []) AS ids
  FROM (SELECT unnest(range(0, 256)) AS h) g
), rh AS (
  -- ring-walk construction of the Robin Hood layout: keys join the
  -- queue when the walk passes their home; the front of the FIFO
  -- queue takes each slot. TWO laps with arrivals on both and only
  -- lap-2 placements recorded: the simulated queue starts below the
  -- stationary one and couples with it at the first truly-empty slot
  -- (one exists at 78% load), so lap 2 replays the exact cyclic
  -- steady state that wraparound runs require.
  SELECT 0 AS w,
         CAST([] AS BIGINT[]) AS q,
         CAST([] AS STRUCT(id BIGINT, slot BIGINT)[]) AS placed,
         (SELECT list(ids ORDER BY h) FROM hq) AS perhome
  UNION ALL
  SELECT s.w + 1, t1.nq2, t1.nplaced, s.perhome
  FROM rh s
  CROSS JOIN LATERAL (
    SELECT CASE WHEN s.w < 512
           THEN s.q || s.perhome[CAST(s.w % 256 + 1 AS INTEGER)]
           ELSE s.q END AS nq) t0
  CROSS JOIN LATERAL (
    SELECT CASE WHEN len(t0.nq) > 0 THEN t0.nq[2:CAST(len(t0.nq)
             AS INTEGER)] ELSE t0.nq END AS nq2,
           CASE WHEN len(t0.nq) > 0 AND s.w >= 256 THEN s.placed ||
             [struct_pack(id := t0.nq[1],
                          slot := CAST(s.w % 256 AS BIGINT))]
           ELSE s.placed END AS nplaced) t1
  WHERE s.w < 512 OR len(s.q) > 0
), rhp AS (
  -- wrapped-run keys appear twice (their lap-1 copy placed at the lap-2
  -- start and their lap-2 copy placed in the drain) at the SAME slot —
  -- the coupling argument's fixed point — so DISTINCT is exact
  SELECT DISTINCT p.id AS doc_id, p.slot
  FROM (SELECT placed FROM rh ORDER BY w DESC LIMIT 1) f,
       LATERAL (SELECT unnest(placed) AS p) u
), j AS (
  SELECT k.doc_id, k.home,
         l.slot AS lp_slot,
         (l.slot - k.home + 256) % 256 AS lp_disp,
         r.slot AS rh_slot,
         (r.slot - k.home + 256) % 256 AS rh_disp
  FROM keys k
  JOIN lpp l ON l.doc_id = k.doc_id
  JOIN rhp r ON r.doc_id = k.doc_id
), tots AS (
  SELECT sum(lp_disp) AS tlp, sum(rh_disp) AS trh,
         sum(lp_disp * lp_disp) AS qlp,
         sum(rh_disp * rh_disp) AS qrh,
         max(lp_disp) AS mlp, max(rh_disp) AS mrh,
         md5(string_agg(CAST(lp_slot AS VARCHAR), ','
                        ORDER BY lp_slot)) AS slp,
         md5(string_agg(CAST(rh_slot AS VARCHAR), ','
                        ORDER BY rh_slot)) AS srh
  FROM j
)
SELECT j.doc_id, CAST(j.home AS BIGINT) AS home,
       CAST(j.lp_slot AS BIGINT) AS lp_slot,
       CAST(j.lp_disp AS BIGINT) AS lp_disp,
       CAST(j.rh_slot AS BIGINT) AS rh_slot,
       CAST(j.rh_disp AS BIGINT) AS rh_disp,
       CAST(t.tlp AS BIGINT) AS total_disp_lp,
       CAST(t.trh AS BIGINT) AS total_disp_rh,
       t.tlp = t.trh AS mean_equal_ok,
       CAST(t.qlp AS BIGINT) AS sumsq_lp,
       CAST(t.qrh AS BIGINT) AS sumsq_rh,
       t.qrh <= t.qlp AS variance_ok,
       t.slp = t.srh AS slots_equal_ok,
       CAST(t.mlp AS BIGINT) AS max_disp_lp,
       CAST(t.mrh AS BIGINT) AS max_disp_rh
FROM j CROSS JOIN tots t
"""


@register("q_docs_robin_hood_probing", _ROBINHOOD_SQL)
def q_docs_robin_hood_probing(spark, sf_dir):
    """Robin Hood hashing versus FCFS linear probing on the same 200
    md5-homed keys in a 256-slot table (78% load) — the open-addressing
    duel behind every hash join and in-memory hash table, with all
    three classic theorems PINNED from the data: (1) the occupied slot
    SET is identical under any linear-probing reordering policy
    (md5 of the sorted slot lists equal), (2) total (hence mean)
    displacement is identical — reordering only redistributes it, and
    (3) Robin Hood minimizes displacement VARIANCE, so its sum of
    squares is ≤ FCFS's. The two engines compute Robin Hood by
    DIFFERENT algorithms — the engine replays literal probe-and-swap
    insertion (take from the rich: swap when the incoming key's current
    distance exceeds the resident's, with a total-order tiebreak on id
    for equal distances that makes the final layout HISTORY-INDEPENDENT
    — the canonical-RH property), the oracle runs the O(m) ring-walk
    construction (keys enqueue as the walk passes their home,
    earliest-home-then-id takes each slot; TWO laps with only lap-2
    placements recorded, because the simulated queue starts below the
    cyclic steady state and provably couples with it at the first
    truly-empty slot — the wraparound-run fix) — so the value-hash
    equality of the correctness gate doubles as a machine-checked proof
    that the walk reproduces the swap semantics. FCFS is replayed
    literally in both (it IS order-dependent)."""
    ks = sorted((r["doc_id"],
                 int(__import__("hashlib").md5(
                     f"rh:{r['doc_id']}".encode()).hexdigest()[:15], 16)
                 % _RH_M)
                for r in _t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < _RH_N)
                .select("doc_id").collect())
    # FCFS linear probing
    lp_slots = [-1] * _RH_M
    lp_pos = {}
    for did, home in ks:
        d = 0
        while lp_slots[(home + d) % _RH_M] != -1:
            d += 1
        lp_slots[(home + d) % _RH_M] = did
        lp_pos[did] = (home + d) % _RH_M
    # Robin Hood: literal probe-and-swap
    rh_slots: list = [None] * _RH_M
    for did, home in ks:
        cid, chome, d = did, home, 0
        while True:
            pos = (chome + d) % _RH_M
            res = rh_slots[pos]
            if res is None:
                rh_slots[pos] = (cid, chome)
                break
            rdisp = (pos - res[1] + _RH_M) % _RH_M
            # total-order tiebreak (distance, then id): equal distance
            # implies equal home, and smaller id wins the slot — this
            # makes the final layout HISTORY-INDEPENDENT (canonical),
            # which is exactly what the oracle's ring walk computes
            if rdisp < d or (rdisp == d and res[0] > cid):
                rh_slots[pos] = (cid, chome)
                cid, chome = res
                d = rdisp
            d += 1
    rh_pos = {cid: pos for pos, v in enumerate(rh_slots)
              if v is not None for cid, _ in [v]}
    tlp = sum((lp_pos[i] - h + _RH_M) % _RH_M for i, h in ks)
    trh = sum((rh_pos[i] - h + _RH_M) % _RH_M for i, h in ks)
    qlp = sum(((lp_pos[i] - h + _RH_M) % _RH_M) ** 2 for i, h in ks)
    qrh = sum(((rh_pos[i] - h + _RH_M) % _RH_M) ** 2 for i, h in ks)
    mlp = max((lp_pos[i] - h + _RH_M) % _RH_M for i, h in ks)
    mrh = max((rh_pos[i] - h + _RH_M) % _RH_M for i, h in ks)
    import hashlib as _hl
    slp = _hl.md5(",".join(str(s) for s in
                           sorted(lp_pos.values())).encode()).hexdigest()
    srh = _hl.md5(",".join(str(s) for s in
                           sorted(rh_pos.values())).encode()).hexdigest()
    rows = [(did, home, lp_pos[did],
             (lp_pos[did] - home + _RH_M) % _RH_M, rh_pos[did],
             (rh_pos[did] - home + _RH_M) % _RH_M,
             tlp, trh, tlp == trh, qlp, qrh, qrh <= qlp, slp == srh,
             mlp, mrh) for did, home in ks]
    return spark.createDataFrame(
        rows, "doc_id long, home long, lp_slot long, lp_disp long,"
              " rh_slot long, rh_disp long, total_disp_lp long,"
              " total_disp_rh long, mean_equal_ok boolean,"
              " sumsq_lp long, sumsq_rh long, variance_ok boolean,"
              " slots_equal_ok boolean, max_disp_lp long,"
              " max_disp_rh long")


_BPTREE_SQL = """
WITH RECURSIVE ks AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rk
  FROM documents
), nn AS (
  SELECT count(*) AS n FROM ks
), cnt AS (
  SELECT 0 AS level, (SELECT (n + 7) // 8 FROM nn) AS c
  UNION ALL
  SELECT level + 1, (c + 7) // 8 FROM cnt WHERE c > 1
), nodes AS (
  SELECT c.level, CAST(i AS BIGINT) AS idx, c.c AS level_count,
         CAST(power(8, c.level + 1) AS BIGINT) AS span
  FROM cnt c, LATERAL (SELECT unnest(range(0, c.c)) AS i) u
), nd AS (
  SELECT n.level, n.idx, n.level_count,
         n.span * n.idx AS lo_rk,
         least((SELECT nn.n FROM nn), n.span * (n.idx + 1)) - 1 AS hi_rk,
         CASE WHEN n.level = 0
           THEN least(CAST(8 AS BIGINT),
                      (SELECT nn.n FROM nn) - 8 * n.idx)
           ELSE least(CAST(8 AS BIGINT),
                      (SELECT c2.c FROM cnt c2
                       WHERE c2.level = n.level - 1) - 8 * n.idx)
         END AS n_entries
  FROM nodes n
), res AS (
  SELECT d.level, d.idx, d.n_entries,
         kl.doc_id AS min_key, kh.doc_id AS max_key,
         d.level_count,
         (d.n_entries = 8 OR d.idx = d.level_count - 1) AS full_ok
  FROM nd d
  JOIN ks kl ON kl.rk = d.lo_rk
  JOIN ks kh ON kh.rk = d.hi_rk
)
SELECT r.level, r.idx, CAST(r.n_entries AS BIGINT) AS n_entries,
       r.min_key, r.max_key, r.full_ok,
       coalesce(r.level = 0 OR r.min_key = ch.min_key, false)
         AS sep_ok,
       CAST((SELECT max(level) FROM cnt) + 1 AS INTEGER) AS height,
       CAST((SELECT n FROM nn) AS BIGINT) AS n_keys,
       (SELECT c FROM cnt WHERE level = (SELECT max(level) FROM cnt))
         = 1 AS root_single_ok
FROM res r
LEFT JOIN res ch ON ch.level = r.level - 1 AND ch.idx = r.idx * 8
"""


@register("q_docs_bptree_bulkload", _BPTREE_SQL)
def q_docs_bptree_bulkload(spark, sf_dir):
    """B+-tree bulk load over the sorted document keys (leaf capacity 8,
    fanout 8) — the index-build path every database uses for sorted
    ingest, computed entirely in CLOSED FORM: node (L, i) covers key
    ranks [8^(L+1)·i, 8^(L+1)·(i+1)), so per-node entry counts,
    min/max keys and level populations are rank arithmetic plus one
    rank→key join — no insertion replay, no recursion over keys (the
    only recursion is the ≤5-row level-count sequence c_{i+1} =
    ⌈c_i/8⌉). Pins per node: bulk-load full-fill (every node holds
    exactly 8 entries except the last of its level), separator
    correctness via a REAL parent-child join (each internal node's min
    key equals its first child's min key), and the single-root
    property. Emits the whole node directory — the page-level layout a
    bulk loader would write — with height and key count as constants.
    Rank windows + equi-joins: fully distributed, and the same closed
    form holds at 10^9 keys per partition-local subtree."""
    ks = (_t(spark, sf_dir, "documents")
          .select("doc_id",
                  (F.row_number().over(Window.orderBy("doc_id")) - 1)
                  .alias("rk")))
    n = ks.count()
    counts, c, lvl = [], (n + 7) // 8, 0
    while True:
        counts.append((lvl, c))
        if c <= 1:
            break
        c = (c + 7) // 8
        lvl += 1
    height = len(counts)
    nodes = []
    for L, cL in counts:
        span = 8 ** (L + 1)
        prev = n if L == 0 else counts[L - 1][1]
        unit = 8
        for i in range(cL):
            ne = min(unit, prev - unit * i)
            nodes.append((L, i, cL, span * i,
                          min(n, span * (i + 1)) - 1, ne))
    nd = spark.createDataFrame(
        nodes, "level int, idx long, level_count long, lo_rk long,"
               " hi_rk long, n_entries long")
    res = (nd.join(F.broadcast(ks).withColumnRenamed("doc_id", "min_key")
                   .withColumnRenamed("rk", "lo_rk2"),
                   F.expr("lo_rk2 = lo_rk"))
           .join(F.broadcast(ks).withColumnRenamed("doc_id", "max_key")
                 .withColumnRenamed("rk", "hi_rk2"),
                 F.expr("hi_rk2 = hi_rk"))
           .select("level", "idx", "n_entries", "min_key", "max_key",
                   ((F.col("n_entries") == 8)
                    | (F.col("idx") == F.col("level_count") - 1))
                   .alias("full_ok")))
    ch = res.select(F.col("level").alias("cl"), F.col("idx").alias("ci"),
                    F.col("min_key").alias("cmin"))
    return (res.join(F.broadcast(ch),
                     F.expr("cl = level - 1 AND ci = idx * 8"), "left")
            .select("level", "idx",
                    F.col("n_entries").cast("long").alias("n_entries"),
                    "min_key", "max_key", "full_ok",
                    F.coalesce((F.col("level") == 0)
                               | (F.col("min_key") == F.col("cmin")),
                               F.lit(False)).alias("sep_ok"),
                    F.lit(height).cast("int").alias("height"),
                    F.lit(n).cast("long").alias("n_keys"),
                    F.lit(counts[-1][1] == 1).alias("root_single_ok")))


_HAMMING_SQL = """
WITH src AS (
  SELECT doc_id, k,
         ascii(substr(text, CAST(k AS INTEGER), 1)) % 16 AS nib,
         CAST(concat('0x', substr(md5('he:' || CAST(doc_id AS VARCHAR)
              || ':' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents, (SELECT unnest(range(1, 65)) AS k)
  WHERE doc_id < 100 AND length(text) >= 64
), enc AS (
  SELECT doc_id, k, nib,
         nib % 2 AS d1, (nib // 2) % 2 AS d2,
         (nib // 4) % 2 AS d3, (nib // 8) % 2 AS d4,
         k % 4 AS scenario, h
  FROM src
), cw AS (
  SELECT *,
         xor(xor(d1, d2), d4) AS p1,
         xor(xor(d1, d3), d4) AS p2,
         xor(xor(d2, d3), d4) AS p4
  FROM enc
), flip AS (
  SELECT *,
         xor(xor(xor(xor(xor(xor(p1, p2), d1), p4), d2), d3), d4)
           AS p8,
         CASE WHEN scenario = 1 THEN h % 8 + 1 ELSE 0 END AS f1,
         CASE WHEN scenario = 2 THEN h % 8 + 1 ELSE 0 END AS f2a,
         CASE WHEN scenario = 2
           THEN (h % 8 + h // 8 % 7 + 1) % 8 + 1 ELSE 0 END AS f2b,
         CASE WHEN scenario = 3 THEN 8 ELSE 0 END AS f3
  FROM cw
), rx AS (
  SELECT doc_id, k, nib, scenario,
         CASE WHEN f2a = 8 OR f2b = 8 OR f3 = 8 THEN xor(p8, 1)
              WHEN f1 = 8 THEN xor(p8, 1) ELSE p8 END AS r8,
         xor(p1, CASE WHEN f1 = 1 OR f2a = 1 OR f2b = 1
                 THEN 1 ELSE 0 END) AS r1,
         xor(p2, CASE WHEN f1 = 2 OR f2a = 2 OR f2b = 2
                 THEN 1 ELSE 0 END) AS r2,
         xor(d1, CASE WHEN f1 = 3 OR f2a = 3 OR f2b = 3
                 THEN 1 ELSE 0 END) AS r3,
         xor(p4, CASE WHEN f1 = 4 OR f2a = 4 OR f2b = 4
                 THEN 1 ELSE 0 END) AS r4,
         xor(d2, CASE WHEN f1 = 5 OR f2a = 5 OR f2b = 5
                 THEN 1 ELSE 0 END) AS r5,
         xor(d3, CASE WHEN f1 = 6 OR f2a = 6 OR f2b = 6
                 THEN 1 ELSE 0 END) AS r6,
         xor(d4, CASE WHEN f1 = 7 OR f2a = 7 OR f2b = 7
                 THEN 1 ELSE 0 END) AS r7,
         f1, f2a, f2b
  FROM flip
), syn AS (
  SELECT *,
         xor(xor(xor(r1, r3), r5), r7)
         + 2 * xor(xor(xor(r2, r3), r6), r7)
         + 4 * xor(xor(xor(r4, r5), r6), r7) AS s,
         xor(xor(xor(xor(xor(xor(xor(r1, r2), r3), r4), r5), r6), r7),
             r8) AS pchk
  FROM rx
), dec AS (
  SELECT doc_id, k, nib, scenario, s, pchk, f1, f2a, f2b,
         CASE WHEN s = 0 AND pchk = 1 THEN 'parity_fixed'
              WHEN s = 0 THEN 'clean'
              WHEN pchk = 1 THEN 'corrected'
              ELSE 'double_detected' END
           AS verdict,
         CASE WHEN s > 0 AND pchk = 1 THEN
           (CASE WHEN s = 3 THEN xor(r3, 1) ELSE r3 END)
           + 2 * (CASE WHEN s = 5 THEN xor(r5, 1) ELSE r5 END)
           + 4 * (CASE WHEN s = 6 THEN xor(r6, 1) ELSE r6 END)
           + 8 * (CASE WHEN s = 7 THEN xor(r7, 1) ELSE r7 END)
         ELSE r3 + 2 * r5 + 4 * r6 + 8 * r7 END AS decoded
  FROM syn
)
SELECT doc_id, CAST(k AS INTEGER) AS k, CAST(nib AS INTEGER) AS nib,
       CAST(scenario AS INTEGER) AS scenario,
       CAST(s AS INTEGER) AS syndrome, CAST(pchk AS INTEGER) AS pchk,
       verdict, CAST(decoded AS INTEGER) AS decoded,
       CASE WHEN scenario = 2 THEN verdict = 'double_detected'
            ELSE decoded = nib END AS secded_ok,
       (scenario <> 1 OR f1 = 8 OR s = f1) AS syndrome_locates_ok
FROM dec
"""


@register("data_hamming_secded", _HAMMING_SQL)
def data_hamming_secded(spark, sf_dir):
    """Hamming(7,4) + SECDED(8,4) — the single-error-correct /
    double-error-detect code inside ECC RAM and storage checksums —
    over the low nibbles of the first 64 characters of 100 documents,
    with all four error scenarios planted per stripe (k mod 4): clean,
    one md5-chosen bit flip anywhere in the 8-bit codeword, TWO
    distinct flips, and a flip of the overall parity bit itself. The
    SECDED contract is pinned per codeword: clean/single/parity-flip
    rows must decode back to the original nibble (single errors
    corrected AT the syndrome position — syndrome_locates_ok pins that
    the syndrome equals the planted bit index), and double flips must
    be DETECTED, never silently miscorrected. Pure bit arithmetic in
    both engines (xor + integer div/mod — no bitmaps, no UDFs),
    map-side over (doc, position): the embarrassingly parallel shape
    of block-level integrity checking at any scale."""
    docs = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 100) & (F.length("text") >= 64)))
    ks = spark.range(1, 65).select(F.col("id").cast("int").alias("k"))
    src = (docs.crossJoin(F.broadcast(ks))
           .select("doc_id", "k",
                   (F.ascii(F.expr("substr(text, k, 1)")) % 16)
                   .alias("nib"),
                   F.conv(F.substring(F.md5(F.concat_ws(
                       "", F.lit("he:"), F.col("doc_id").cast("string"),
                       F.lit(":"), F.col("k").cast("string"))), 1, 15),
                       16, 10).cast("long").alias("h")))
    q = src.selectExpr(
        "doc_id", "k", "nib", "h",
        "nib % 2 AS d1", "(nib div 2) % 2 AS d2",
        "(nib div 4) % 2 AS d3", "(nib div 8) % 2 AS d4",
        "k % 4 AS scenario")
    q = q.selectExpr(
        "*", "d1 ^ d2 ^ d4 AS p1", "d1 ^ d3 ^ d4 AS p2",
        "d2 ^ d3 ^ d4 AS p4")
    q = q.selectExpr(
        "*", "p1 ^ p2 ^ d1 ^ p4 ^ d2 ^ d3 ^ d4 AS p8",
        "CASE WHEN scenario = 1 THEN h % 8 + 1 ELSE 0 END AS f1",
        "CASE WHEN scenario = 2 THEN h % 8 + 1 ELSE 0 END AS f2a",
        "CASE WHEN scenario = 2 THEN (h % 8 + h div 8 % 7 + 1) % 8 + 1"
        " ELSE 0 END AS f2b",
        "CASE WHEN scenario = 3 THEN 8 ELSE 0 END AS f3")
    q = q.selectExpr(
        "doc_id", "k", "nib", "scenario", "f1", "f2a", "f2b",
        "CASE WHEN f2a = 8 OR f2b = 8 OR f3 = 8 THEN p8 ^ 1"
        " WHEN f1 = 8 THEN p8 ^ 1 ELSE p8 END AS r8",
        "p1 ^ (CASE WHEN f1 = 1 OR f2a = 1 OR f2b = 1 THEN 1 ELSE 0"
        " END) AS r1",
        "p2 ^ (CASE WHEN f1 = 2 OR f2a = 2 OR f2b = 2 THEN 1 ELSE 0"
        " END) AS r2",
        "d1 ^ (CASE WHEN f1 = 3 OR f2a = 3 OR f2b = 3 THEN 1 ELSE 0"
        " END) AS r3",
        "p4 ^ (CASE WHEN f1 = 4 OR f2a = 4 OR f2b = 4 THEN 1 ELSE 0"
        " END) AS r4",
        "d2 ^ (CASE WHEN f1 = 5 OR f2a = 5 OR f2b = 5 THEN 1 ELSE 0"
        " END) AS r5",
        "d3 ^ (CASE WHEN f1 = 6 OR f2a = 6 OR f2b = 6 THEN 1 ELSE 0"
        " END) AS r6",
        "d4 ^ (CASE WHEN f1 = 7 OR f2a = 7 OR f2b = 7 THEN 1 ELSE 0"
        " END) AS r7")
    q = q.selectExpr(
        "*",
        "(r1 ^ r3 ^ r5 ^ r7) + 2 * (r2 ^ r3 ^ r6 ^ r7)"
        " + 4 * (r4 ^ r5 ^ r6 ^ r7) AS s",
        "r1 ^ r2 ^ r3 ^ r4 ^ r5 ^ r6 ^ r7 ^ r8 AS pchk")
    q = q.selectExpr(
        "doc_id", "k", "nib", "scenario", "s", "pchk", "f1",
        "CASE WHEN s = 0 AND pchk = 1 THEN 'parity_fixed'"
        " WHEN s = 0 THEN 'clean' WHEN pchk = 1 THEN 'corrected'"
        " ELSE 'double_detected' END AS verdict",
        "CASE WHEN s > 0 AND pchk = 1 THEN"
        " (CASE WHEN s = 3 THEN r3 ^ 1 ELSE r3 END)"
        " + 2 * (CASE WHEN s = 5 THEN r5 ^ 1 ELSE r5 END)"
        " + 4 * (CASE WHEN s = 6 THEN r6 ^ 1 ELSE r6 END)"
        " + 8 * (CASE WHEN s = 7 THEN r7 ^ 1 ELSE r7 END)"
        " ELSE r3 + 2 * r5 + 4 * r6 + 8 * r7 END AS decoded")
    return q.selectExpr(
        "doc_id", "CAST(k AS INT) AS k", "CAST(nib AS INT) AS nib",
        "CAST(scenario AS INT) AS scenario", "CAST(s AS INT) AS syndrome",
        "CAST(pchk AS INT) AS pchk", "verdict",
        "CAST(decoded AS INT) AS decoded",
        "CASE WHEN scenario = 2 THEN verdict = 'double_detected'"
        " ELSE decoded = nib END AS secded_ok",
        "(scenario <> 1 OR f1 = 8 OR s = f1) AS syndrome_locates_ok")


# ---- Reed-Solomon RS(6,4) erasure coding over GF(256), poly 0x11d ----

_GF_EXP = [0] * 256
_GF_LOG = [0] * 256


def _gf_init():
    x = 1
    for i in range(255):
        _GF_EXP[i] = x
        _GF_LOG[x] = i
        x <<= 1
        if x >= 256:
            x ^= 0x11D
    _GF_EXP[255] = _GF_EXP[0]


_gf_init()


def _gf_mul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _GF_EXP[(_GF_LOG[a] + _GF_LOG[b]) % 255]


def _gf_inv(a: int) -> int:
    return _GF_EXP[(255 - _GF_LOG[a]) % 255]


def _rs_constants():
    """Code-structure constants shared by engine and oracle: the
    Vandermonde generator row logs, the md5-chosen erasure pair, and
    the Lagrange recovery/re-encode coefficient logs for that pair."""
    import hashlib as _h
    xs = [j + 1 for j in range(6)]                   # evaluation points
    gen = [[pow_ for i in range(4)
            for pow_ in [_gf_pow(xs[j], i)]] for j in range(6)]
    h = int(_h.md5(b"rs:erasure").hexdigest()[:15], 16)
    e1 = h % 6
    e2 = (e1 + h // 6 % 5 + 1) % 6
    surv = [j for j in range(6) if j not in (e1, e2)]
    # Lagrange: data coeffs d_i = XOR_r L[r][i] * S_r over survivors
    ys = [xs[j] for j in surv]
    L = [[0] * 4 for _ in range(4)]
    for r in range(4):
        oth = [ys[t] for t in range(4) if t != r]
        a, b, c = oth
        sym = [_gf_mul(_gf_mul(a, b), c),
               _gf_mul(a, b) ^ _gf_mul(b, c) ^ _gf_mul(c, a),
               a ^ b ^ c, 1]
        den = 1
        for t in oth:
            den = _gf_mul(den, ys[r] ^ t)
        dinv = _gf_inv(den)
        for i in range(4):
            L[r][i] = _gf_mul(sym[i], dinv)
    return xs, gen, e1, e2, surv, L


def _gf_pow(x: int, e: int) -> int:
    r = 1
    for _ in range(e):
        r = _gf_mul(r, x)
    return r


def _rs_gmul_sql(const: int, expr: str) -> str:
    """SQL for gf_mul(const, expr) with a compile-time constant: one
    log-table hop — el[ (log_const + log expr) mod 255 + 1 ]."""
    if const == 0:
        return "0"
    lc = _GF_LOG[const]
    if const == 1:
        return f"({expr})"
    return (f"(CASE WHEN ({expr}) = 0 THEN 0 ELSE "
            f"el[CAST(({lc} + list_position(el, {expr}) - 1) % 255 + 1"
            f" AS INTEGER)] END)")


def _rs_sql() -> str:
    xs, gen, e1, e2, surv, L = _rs_constants()
    enc_cols = []
    for j in range(6):
        terms = [_rs_gmul_sql(gen[j][i], f"d{i}") for i in range(4)]
        enc_cols.append(
            f"xor(xor({terms[0]}, {terms[1]}),"
            f" xor({terms[2]}, {terms[3]})) AS s{j}")
    rec_cols = []
    for i in range(4):
        terms = [_rs_gmul_sql(L[r][i], f"s{surv[r]}") for r in range(4)]
        rec_cols.append(
            f"xor(xor({terms[0]}, {terms[1]}),"
            f" xor({terms[2]}, {terms[3]})) AS rec{i}")
    reenc = []
    for nm, ej in (("re1", e1), ("re2", e2)):
        terms = [_rs_gmul_sql(gen[ej][i], f"rec{i}") for i in range(4)]
        reenc.append(
            f"xor(xor({terms[0]}, {terms[1]}),"
            f" xor({terms[2]}, {terms[3]})) AS {nm}")
    return f"""
WITH RECURSIVE gf AS (
  SELECT 0 AS i, [CAST(1 AS BIGINT)] AS e
  UNION ALL
  SELECT i + 1, e || [CASE WHEN e[CAST(i + 1 AS INTEGER)] * 2 >= 256
    THEN xor(e[CAST(i + 1 AS INTEGER)] * 2, 285)
    ELSE e[CAST(i + 1 AS INTEGER)] * 2 END]
  FROM gf WHERE i < 254
), el_t AS (
  SELECT e AS el FROM gf WHERE i = 254
), doc AS (
  SELECT string_agg(text, ' ' ORDER BY doc_id) AS text
  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 5)
), data AS (
  SELECT k.k,
         ascii(substr(d.text, CAST(0 * 64 + k.k + 1 AS INTEGER), 1))
           AS d0,
         ascii(substr(d.text, CAST(1 * 64 + k.k + 1 AS INTEGER), 1))
           AS d1,
         ascii(substr(d.text, CAST(2 * 64 + k.k + 1 AS INTEGER), 1))
           AS d2,
         ascii(substr(d.text, CAST(3 * 64 + k.k + 1 AS INTEGER), 1))
           AS d3,
         el_t.el AS el
  FROM doc d, (SELECT unnest(range(0, 64)) AS k) k, el_t
), enc AS (
  SELECT k, d0, d1, d2, d3, el,
         {', '.join(enc_cols)}
  FROM data
), rec AS (
  SELECT k, d0, d1, d2, d3, s0, s1, s2, s3, s4, s5, el,
         {', '.join(rec_cols)}
  FROM enc
), ree AS (
  SELECT *, {', '.join(reenc)}
  FROM rec
)
SELECT CAST(k AS INTEGER) AS k,
       CAST(d0 AS INTEGER) AS d0, CAST(d1 AS INTEGER) AS d1,
       CAST(d2 AS INTEGER) AS d2, CAST(d3 AS INTEGER) AS d3,
       CAST(s0 AS INTEGER) AS s0, CAST(s1 AS INTEGER) AS s1,
       CAST(s2 AS INTEGER) AS s2, CAST(s3 AS INTEGER) AS s3,
       CAST(s4 AS INTEGER) AS s4, CAST(s5 AS INTEGER) AS s5,
       CAST({e1} AS INTEGER) AS erased1, CAST({e2} AS INTEGER)
         AS erased2,
       CAST(rec0 AS INTEGER) AS rec0, CAST(rec1 AS INTEGER) AS rec1,
       CAST(rec2 AS INTEGER) AS rec2, CAST(rec3 AS INTEGER) AS rec3,
       (rec0 = d0 AND rec1 = d1 AND rec2 = d2 AND rec3 = d3)
         AS recover_ok,
       (re1 = s{e1} AND re2 = s{e2}) AS reencode_ok
FROM ree
"""


@register("data_rs_erasure", _rs_sql())
def data_rs_erasure(spark, sf_dir):
    """Reed-Solomon RS(6,4) erasure coding over GF(256) (poly 0x11d,
    α=2) — the MDS code behind HDFS/S3/Ceph erasure-coded storage: 256
    bytes of the first document split into 4 data shards, encoded into
    6 by a Vandermonde evaluation at x=1..6 (any 4 of 6 rows
    invertible — the MDS property), two md5-chosen shards ERASED, and
    the data recovered from the survivors by Lagrange interpolation in
    closed form — characteristic 2 kills every sign, so the recovery
    coefficients are elementary symmetric polynomials over the
    surviving nodes divided by Π(y_r − y_t), no Gaussian elimination
    anywhere. Pinned per byte position: exact recovery of all four
    data bytes from 4-of-6 (recover_ok — the erasure-tolerance
    contract) and re-encoding the recovered data reproduces the two
    erased shards bit-exactly (reencode_ok — consistency of the code).
    The oracle builds the GF(256) exp table by a 255-step xtime
    recursion and runs every multiply through one log-hop with
    compile-time coefficient logs; the engine computes the same field
    arithmetic in integer Python. Per-position math is embarrassingly
    parallel — the per-stripe shape of erasure-coded object storage."""
    txt = " ".join(
        r["text"] for r in _t(spark, sf_dir, "documents")
        .orderBy("doc_id").limit(5).collect())
    xs, gen, e1, e2, surv, L = _rs_constants()
    rows = []
    for k in range(64):
        d = [ord(txt[i * 64 + k]) for i in range(4)]
        s = [0] * 6
        for j in range(6):
            acc = 0
            for i in range(4):
                acc ^= _gf_mul(gen[j][i], d[i])
            s[j] = acc
        rec = [0] * 4
        for i in range(4):
            acc = 0
            for r in range(4):
                acc ^= _gf_mul(L[r][i], s[surv[r]])
            rec[i] = acc
        re_ = []
        for ej in (e1, e2):
            acc = 0
            for i in range(4):
                acc ^= _gf_mul(gen[ej][i], rec[i])
            re_.append(acc)
        rows.append((k, d[0], d[1], d[2], d[3],
                     s[0], s[1], s[2], s[3], s[4], s[5], e1, e2,
                     rec[0], rec[1], rec[2], rec[3],
                     rec == d, re_[0] == s[e1] and re_[1] == s[e2]))
    return spark.createDataFrame(
        rows, "k int, d0 int, d1 int, d2 int, d3 int, s0 int, s1 int,"
              " s2 int, s3 int, s4 int, s5 int, erased1 int,"
              " erased2 int, rec0 int, rec1 int, rec2 int, rec3 int,"
              " recover_ok boolean, reencode_ok boolean")


_CHBL_SQL = """
WITH RECURSIVE uk AS (
  SELECT CAST(user_id AS VARCHAR) AS uid
  FROM (SELECT DISTINCT user_id FROM events
        ORDER BY user_id LIMIT 200)
), uh AS (
  SELECT uid,
         CAST(concat('0x', substr(md5('key:' || uid), 1, 15))
              AS BIGINT) AS h
  FROM uk
), vn AS (
  SELECT n.node, n.ni,
         CAST(concat('0x', substr(md5('vnode:' || n.node || ':'
              || CAST(v.v AS VARCHAR)), 1, 15)) AS BIGINT) AS p
  FROM (VALUES ('n0', 0), ('n1', 1), ('n2', 2), ('n3', 3), ('n4', 4))
       n(node, ni)
  CROSS JOIN (SELECT unnest(range(0, 16)) AS v) v
), dist AS (
  SELECT uh.uid, uh.h, vn.ni,
         min((vn.p - uh.h + 1152921504606846976)
             % 1152921504606846976) AS d
  FROM uh CROSS JOIN vn GROUP BY uh.uid, uh.h, vn.ni
), pref AS (
  SELECT uid, h, list(ni ORDER BY d) AS pf
  FROM dist GROUP BY uid, h
), seq AS (
  SELECT uid, pf, row_number() OVER (ORDER BY CAST(uid AS BIGINT)) AS rn
  FROM pref
), kk AS (
  SELECT count(*) AS nk,
         (count(*) + 3) // 4 AS cap   -- ceil(1.25 * K / 5) = ceil(K/4)
  FROM uk
), st AS (
  SELECT 0 AS t, list_transform(range(1, 6), x -> CAST(0 AS BIGINT))
           AS loads,
         CAST(NULL AS BIGINT) AS chosen, CAST(NULL AS INTEGER) AS rank_,
         (SELECT cap FROM kk) AS cap
  UNION ALL
  SELECT s.t + 1, t2.nl, t2.ch, t2.rk, s.cap
  FROM st s
  JOIN seq q ON q.rn = s.t + 1
  CROSS JOIN LATERAL (
    SELECT list_min(list_filter(
             list_transform(q.pf, (n, i) -> CASE
               WHEN s.loads[CAST(n + 1 AS INTEGER)] < s.cap
               THEN i * 10 + n ELSE NULL END),
             x -> x IS NOT NULL)) AS code) t1
  CROSS JOIN LATERAL (
    SELECT t1.code % 10 AS ch, CAST(t1.code // 10 AS INTEGER) AS rk,
           list_transform(s.loads, (l, i) -> CASE
             WHEN i = t1.code % 10 + 1 THEN l + 1 ELSE l END) AS nl
    ) t2
  WHERE s.t < (SELECT nk FROM kk)
), placed AS (
  SELECT s.t, q.uid, s.chosen, s.rank_
  FROM st s JOIN seq q ON q.rn = s.t
  WHERE s.t >= 1
), finl AS (
  SELECT loads FROM st WHERE t = (SELECT nk FROM kk)
)
SELECT CAST(p.uid AS BIGINT) AS user_id,
       'n' || CAST(p.chosen AS VARCHAR) AS node,
       p.rank_ AS choice_rank,
       CAST((SELECT cap FROM kk) AS BIGINT) AS cap,
       CAST(f.loads[CAST(p.chosen + 1 AS INTEGER)] AS BIGINT)
         AS node_load,
       f.loads[CAST(p.chosen + 1 AS INTEGER)]
         <= (SELECT cap FROM kk) AS cap_ok,
       CAST(list_max(f.loads) AS BIGINT) AS max_load,
       list_max(f.loads) <= (SELECT cap FROM kk) AS all_caps_ok,
       CAST(f.loads[1] + f.loads[2] + f.loads[3] + f.loads[4]
            + f.loads[5] AS BIGINT) AS total_placed,
       f.loads[1] + f.loads[2] + f.loads[3] + f.loads[4] + f.loads[5]
         = (SELECT nk FROM kk) AS conservation_ok
FROM placed p CROSS JOIN finl f
"""


@register("q_shard_bounded_loads", _CHBL_SQL)
def q_shard_bounded_loads(spark, sf_dir):
    """Consistent hashing with bounded loads (Mirrokni-Thorup-Zadimoghaddam,
    the Vitess/HAProxy variant): each key walks its ring-successor node
    preference list (clockwise over the same 16-vnode/60-bit-md5 ring
    as q_shard_placement_ring, nodes deduped by first vnode hit) and
    lands on the FIRST node under the capacity ceiling ⌈1.25·K/5⌉ —
    the cap that tames the Θ(log n/log log n) max-load of plain
    consistent hashing to a constant factor. The guarantee is pinned
    from the final state: no node exceeds the cap (all_caps_ok), every
    key is placed (conservation), and each key's fallback depth
    (choice_rank) is emitted so the overflow-walk distribution — the
    price of boundedness — is visible in the result. Preference lists
    are a distributed window+group computation (per-key min distance
    per node, ranked); only the 200-step load fold is sequential, the
    same bounded planner walk a router replays. Engine: driver fold;
    oracle: identical recursion over the 5-slot load vector."""
    import hashlib as _h

    def h60(s):
        return int(_h.md5(s.encode()).hexdigest()[:15], 16)
    M = 1 << 60
    uids = sorted(int(r["user_id"]) for r in
                  _t(spark, sf_dir, "events")
                  .select("user_id").distinct()
                  .orderBy("user_id").limit(200).collect())
    vns = [(ni, h60(f"vnode:n{ni}:{v}"))
           for ni in range(5) for v in range(16)]
    K = len(uids)
    cap = (K + 3) // 4
    loads = [0] * 5
    out = []
    for uid in uids:
        h = h60(f"key:{uid}")
        best = {}
        for ni, p in vns:
            d = (p - h + M) % M
            if ni not in best or d < best[ni]:
                best[ni] = d
        pf = [ni for ni, _ in sorted(best.items(), key=lambda x: x[1])]
        rk, ch = next((i + 1, n) for i, n in enumerate(pf)
                      if loads[n] < cap)
        loads[ch] += 1
        out.append((uid, ch, rk))
    total = sum(loads)
    rows = [(uid, f"n{ch}", rk, cap, loads[ch], loads[ch] <= cap,
             max(loads), max(loads) <= cap, total, total == K)
            for uid, ch, rk in out]
    return spark.createDataFrame(
        rows, "user_id long, node string, choice_rank int, cap long,"
              " node_load long, cap_ok boolean, max_load long,"
              " all_caps_ok boolean, total_placed long,"
              " conservation_ok boolean")


_LENBATCH_SQL = """
WITH RECURSIVE d AS (
  SELECT doc_id,
         least(len(list_filter(string_split(text, ' '),
                               x -> x <> '')), 512) AS tok,
         CAST(concat('0x', substr(md5('lb:' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 8 AS shard
  FROM documents
), ordered AS (
  SELECT 'fifo' AS variant, shard, doc_id, tok,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM d
  UNION ALL
  SELECT 'sorted', shard, doc_id, tok,
         row_number() OVER (PARTITION BY shard
                            ORDER BY tok DESC, doc_id)
  FROM d
), fold AS (
  SELECT variant, shard, rn, doc_id, tok,
         CAST(0 AS BIGINT) AS batch, CAST(1 AS BIGINT) AS cnt,
         CAST(tok AS BIGINT) AS mx
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.variant, o.shard, o.rn, o.doc_id, o.tok,
         CASE WHEN (f.cnt + 1) * greatest(f.mx, o.tok) <= 4096
              THEN f.batch ELSE f.batch + 1 END,
         CASE WHEN (f.cnt + 1) * greatest(f.mx, o.tok) <= 4096
              THEN f.cnt + 1 ELSE CAST(1 AS BIGINT) END,
         CASE WHEN (f.cnt + 1) * greatest(f.mx, o.tok) <= 4096
              THEN greatest(f.mx, o.tok) ELSE CAST(o.tok AS BIGINT) END
  FROM fold f
  JOIN ordered o ON o.variant = f.variant AND o.shard = f.shard
                AND o.rn = f.rn + 1
), bt AS (
  SELECT variant, shard, batch, count(*) AS bcnt, max(tok) AS bmax,
         sum(tok) AS btok
  FROM fold GROUP BY variant, shard, batch
), vt AS (
  SELECT variant, sum(bcnt * bmax) AS padded, sum(btok) AS tokens
  FROM bt GROUP BY variant
)
SELECT f.variant, CAST(f.shard AS INTEGER) AS shard, f.doc_id,
       CAST(f.tok AS BIGINT) AS n_tokens,
       CAST(f.batch AS BIGINT) AS batch,
       CAST(b.bcnt * b.bmax AS BIGINT) AS batch_padded,
       b.bcnt * b.bmax <= 4096 AS budget_ok,
       CAST(v.padded AS BIGINT) AS variant_padded,
       CAST(v.tokens AS BIGINT) AS variant_tokens,
       CAST(v.padded - v.tokens AS BIGINT) AS variant_waste,
       (SELECT min(padded) FROM vt) = (SELECT padded FROM vt v2
                                       WHERE v2.variant = 'sorted')
         AS sorted_no_worse
FROM fold f
JOIN bt b ON b.variant = f.variant AND b.shard = f.shard
         AND b.batch = f.batch
JOIN vt v ON v.variant = f.variant
"""


@register("data_length_batching", _LENBATCH_SQL)
def data_length_batching(spark, sf_dir):
    """Length-bucketed dynamic batching — the padding-waste lever in
    every LLM training/inference server: documents (token counts capped
    at max_seq 512) greedily packed into batches under a 4096
    padded-token budget, cost = batch_size × max_len_in_batch, in two
    orders per md5 shard — arrival order (FIFO) versus length-sorted —
    with per-batch budget compliance pinned on every row and the
    headline comparison emitted: the sorted variant's total padded
    tokens never exceed FIFO's on this corpus (near-uniform batch
    lengths are the whole point of bucketing). The greedy fold is an
    Arrow applyInPandas per (variant, shard) — shards are the
    parallelism unit exactly as in operators/packing.py, O(1) state
    per group, the 10⁹-document shape. Oracle: the pack_sequences-style
    recursion keyed by (variant, shard, rn) advancing every shard's
    chain in parallel."""
    import pandas as pd
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id",
                 F.least(F.size(F.filter(F.split("text", " "),
                                         lambda x: x != "")),
                         F.lit(512)).alias("tok"),
                 (F.conv(F.substring(F.md5(F.concat(
                     F.lit("lb:"), F.col("doc_id").cast("string"))),
                     1, 15), 16, 10).cast("long") % 8).alias("shard")))
    ordered = (d.select(F.lit("fifo").alias("variant"), "shard",
                        "doc_id", "tok",
                        F.row_number().over(
                            Window.partitionBy("shard")
                            .orderBy("doc_id")).alias("rn"))
               .union(d.select(F.lit("sorted"), "shard", "doc_id", "tok",
                               F.row_number().over(
                                   Window.partitionBy("shard")
                                   .orderBy(F.desc("tok"), "doc_id")))))

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("rn").copy()
        pdf["batch"] = _lb_batches(list(pdf["tok"]))
        return pdf[["variant", "shard", "doc_id", "tok", "batch"]]

    res = (ordered.groupBy("variant", "shard")
           .applyInPandas(fold, "variant string, shard long,"
                                " doc_id long, tok int, batch long"))
    bt = (res.groupBy("variant", "shard", "batch")
          .agg(F.count(F.lit(1)).alias("bcnt"),
               F.max("tok").alias("bmax"),
               F.sum("tok").alias("btok")))
    vt = bt.groupBy("variant").agg(
        (F.sum(F.col("bcnt") * F.col("bmax"))).alias("padded"),
        F.sum("btok").alias("tokens"))
    best = vt.agg(F.min("padded").alias("minp")).crossJoin(
        vt.filter(F.col("variant") == "sorted")
        .select(F.col("padded").alias("sortp")))
    return (res.join(bt, ["variant", "shard", "batch"])
            .join(vt, "variant").crossJoin(F.broadcast(best))
            .select("variant", F.col("shard").cast("int").alias("shard"),
                    "doc_id", F.col("tok").cast("long").alias("n_tokens"),
                    F.col("batch").cast("long").alias("batch"),
                    (F.col("bcnt") * F.col("bmax")).cast("long")
                    .alias("batch_padded"),
                    (F.col("bcnt") * F.col("bmax") <= 4096)
                    .alias("budget_ok"),
                    F.col("padded").cast("long").alias("variant_padded"),
                    F.col("tokens").cast("long").alias("variant_tokens"),
                    (F.col("padded") - F.col("tokens")).cast("long")
                    .alias("variant_waste"),
                    (F.col("minp") == F.col("sortp"))
                    .alias("sorted_no_worse")))


def _lb_batches(toks):
    """Greedy batch assignment under the (count+1)*max <= 4096 rule."""
    batch, cnt, mx, out = 0, 0, 0, []
    for t in toks:
        t = int(t)
        if cnt > 0 and (cnt + 1) * max(mx, t) <= 4096:
            cnt += 1
            mx = max(mx, t)
        else:
            if cnt > 0:
                batch += 1
            cnt, mx = 1, t
        out.append(batch)
    return out


# ---- Selinger join-order DP over the real TPC-H chain ----

_SEL_TABLES = ["R", "N", "C", "O", "L"]
_SEL_SEGS = [(i, j) for i in range(5) for j in range(i, 5)]


def _sel_components(mask: int):
    """Maximal runs of consecutive set bits of mask (chain components)."""
    comps, i = [], 0
    while i < 5:
        if mask >> i & 1:
            j = i
            while j + 1 < 5 and mask >> (j + 1) & 1:
                j += 1
            comps.append((i, j))
            i = j + 1
        else:
            i += 1
    return comps


def _sel_card_expr(mask: int) -> str:
    return " * ".join(f"seg{i}{j}" for i, j in _sel_components(mask))


def _sel_perms():
    import itertools
    return list(itertools.permutations(range(5)))


def _selinger_sql() -> str:
    seg_sql = {
        (0, 0): "SELECT count(*) FROM region",
        (1, 1): "SELECT count(*) FROM nation",
        (2, 2): "SELECT count(*) FROM customer"
                " WHERE c_mktsegment = 'BUILDING'",
        (3, 3): "SELECT count(*) FROM orders"
                " WHERE o_orderpriority = '1-URGENT'",
        (4, 4): "SELECT count(*) FROM lineitem WHERE l_quantity >= 25",
    }
    frm = {
        0: "region",
        1: "nation",
        2: "(SELECT * FROM customer WHERE c_mktsegment = 'BUILDING')"
           " c",
        3: "(SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')"
           " o",
        4: "(SELECT * FROM lineitem WHERE l_quantity >= 25) l",
    }
    joins = {
        (0, 1): "r_regionkey = n_regionkey",
        (1, 2): "n_nationkey = c_nationkey",
        (2, 3): "c_custkey = o_custkey",
        (3, 4): "o_orderkey = l_orderkey",
    }
    for i, j in _SEL_SEGS:
        if i == j:
            continue
        f = frm[i]
        conds = []
        for t in range(i + 1, j + 1):
            f += f" JOIN {frm[t]} ON {joins[(t - 1, t)]}"
        seg_sql[(i, j)] = f"SELECT count(*) FROM {f}"
    seg_cols = ", ".join(
        f"({seg_sql[(i, j)]}) AS seg{i}{j}" for i, j in _SEL_SEGS)
    card_cols = ", ".join(
        f"CAST({_sel_card_expr(m)} AS BIGINT) AS card{m}"
        for m in range(1, 32))
    # DP in popcount order; cost of singletons is 0
    cost, plan = {}, {}
    for t in range(5):
        cost[1 << t] = "0"
        plan[1 << t] = f"'{_SEL_TABLES[t]}'"
    dp_cols = []
    for size in range(2, 6):
        for m in range(1, 32):
            if bin(m).count("1") != size:
                continue
            cands = []
            for t in range(5):
                if m >> t & 1:
                    pm = m ^ (1 << t)
                    cands.append((t, f"({cost[pm]} + card{m})",
                                  f"({plan[pm]} || '>' ||"
                                  f" '{_SEL_TABLES[t]}')"))
            cexpr = "least(" + ", ".join(c for _, c, _ in cands) + ")"
            # deterministic argmin: first candidate (ascending t)
            # attaining the least
            pexpr = "CASE "
            for t, c, p in cands:
                pexpr += f"WHEN {c} = {cexpr} THEN {p} "
            pexpr = pexpr.rstrip() + " END"
            cost[m] = f"cost{m}"
            plan[m] = f"plan{m}"
            dp_cols.append(f"CAST({cexpr} AS BIGINT) AS cost{m}")
            dp_cols.append(f"{pexpr} AS plan{m}")
    # the dp CTE must see earlier cost/plan columns: chain by popcount
    dp_ctes, prev = [], "cards"
    for size in range(2, 6):
        cols = []
        for m in range(1, 32):
            if bin(m).count("1") != size:
                continue
            idx = [i for i, c in enumerate(dp_cols)
                   if c.endswith(f"AS cost{m}") or c.endswith(
                       f"AS plan{m}")]
            cols.extend(dp_cols[i] for i in idx)
        dp_ctes.append(
            f"dp{size} AS (SELECT *, {', '.join(cols)} FROM {prev})")
        prev = f"dp{size}"
    # brute force over the 120 left-deep orders
    pcosts = []
    for perm in _sel_perms():
        msk, terms = 0, []
        for k, t in enumerate(perm):
            msk |= 1 << t
            if k >= 1:
                terms.append(f"card{msk}")
        pcosts.append("(" + " + ".join(terms) + ")")
    brute_min = "least(" + ", ".join(pcosts) + ")"
    brute_max = "greatest(" + ", ".join(pcosts) + ")"
    rows = []
    for m in range(1, 32):
        tbls = "".join(_SEL_TABLES[t] for t in range(5) if m >> t & 1)
        c = cost[m] if bin(m).count("1") > 1 else "CAST(0 AS BIGINT)"
        p = plan[m]
        rows.append(
            f"SELECT {m} AS mask, '{tbls}' AS tables,"
            f" card{m} AS cardinality, CAST({c} AS BIGINT) AS best_cost,"
            f" {p} AS best_plan, cost31 AS full_best,"
            f" CAST({brute_min} AS BIGINT) AS brute_min,"
            f" cost31 = {brute_min} AS dp_equals_brute,"
            f" CAST({brute_max} AS BIGINT) AS worst_perm,"
            f" CAST({brute_max} * 100 // cost31 AS BIGINT)"
            f" AS worst_over_best_e2 FROM dp5")
    return (f"WITH segs AS (SELECT {seg_cols}), "
            f"cards AS (SELECT *, {card_cols} FROM segs), "
            + ", ".join(dp_ctes) + " "
            + " UNION ALL ".join(rows))


@register("q_join_order_selinger", _selinger_sql())
def q_join_order_selinger(spark, sf_dir):
    """Selinger dynamic-programming join ordering (System R, the
    algorithm inside every cost-based SQL optimizer) over the REAL
    five-table TPC-H chain region-nation-customer-orders-lineitem with
    genuine data-derived cardinalities: base filters (BUILDING
    customers, 1-URGENT orders, quantity >= 25 lineitems) break FK
    totality, the 15 connected sub-chain cardinalities are measured by
    actual joins, and every disconnected subset costs the honest
    cartesian product of its components. The DP minimizes the classic
    sum-of-intermediate-cardinalities cost over left-deep orders and is
    PINNED exactly optimal against a full brute-force enumeration of
    all 120 join orders computed independently in both engines
    (dp_equals_brute) — with the worst order's cost ratio emitted, the
    number that is the entire reason cost-based optimizers exist. All
    31 subsets are emitted with their best cost and argmin plan
    (deterministic first-attaining tiebreak). The cardinality probes
    are the distributed part (15 real join counts); the 32-state DP is
    O(1) planner work, exactly where Catalyst runs it."""
    # ONE action: the oracle's segs CTE verbatim over temp views, so
    # all 15 sub-chain counts land in a single Spark job
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"_sel_{t}")
    seg_select = _selinger_sql()
    seg_select = seg_select[seg_select.index("WITH segs AS (SELECT ")
                            + len("WITH segs AS (SELECT "):]
    seg_select = seg_select[:seg_select.index("), cards AS")]
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        seg_select = seg_select.replace(f"FROM {t}", f"FROM _sel_{t}")
        seg_select = seg_select.replace(f"JOIN {t}", f"JOIN _sel_{t}")
    row = spark.sql("SELECT " + seg_select).collect()[0]
    seg = {(i, j): int(row[f"seg{i}{j}"]) for i, j in _SEL_SEGS}
    card = {}
    for m in range(1, 32):
        v = 1
        for comp in _sel_components(m):
            v *= seg[comp]
        card[m] = v
    cost = {1 << t: 0 for t in range(5)}
    plan = {1 << t: _SEL_TABLES[t] for t in range(5)}
    for size in range(2, 6):
        for m in range(1, 32):
            if bin(m).count("1") != size:
                continue
            best = None
            for t in range(5):
                if m >> t & 1:
                    pm = m ^ (1 << t)
                    cand = cost[pm] + card[m]
                    if best is None or cand < best[0]:
                        best = (cand, plan[pm] + ">" + _SEL_TABLES[t])
            cost[m], plan[m] = best
    import itertools
    pc = []
    for perm in itertools.permutations(range(5)):
        msk, tot = 0, 0
        for k, t in enumerate(perm):
            msk |= 1 << t
            if k >= 1:
                tot += card[msk]
        pc.append(tot)
    brute_min, brute_max = min(pc), max(pc)
    rows = []
    for m in range(1, 32):
        tbls = "".join(_SEL_TABLES[t] for t in range(5) if m >> t & 1)
        rows.append((m, tbls, card[m],
                     cost[m] if bin(m).count("1") > 1 else 0, plan[m],
                     cost[31], brute_min, cost[31] == brute_min,
                     brute_max, brute_max * 100 // cost[31]))
    return spark.createDataFrame(
        rows, "mask int, tables string, cardinality long,"
              " best_cost long, best_plan string, full_best long,"
              " brute_min long, dp_equals_brute boolean,"
              " worst_perm long, worst_over_best_e2 long")


_TA_SQL = """
WITH sc AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'click'
             THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
             ELSE 0 END) AS s1,
         sum(CASE WHEN event_type = 'purchase'
             THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
             ELSE 0 END) AS s2
  FROM events GROUP BY user_id
), rk AS (
  SELECT user_id, s1, s2, s1 + s2 AS total,
         row_number() OVER (ORDER BY s1 DESC, user_id) AS r1,
         row_number() OVER (ORDER BY s2 DESC, user_id) AS r2
  FROM sc
), nn AS (
  SELECT count(*) AS n, least(count(*), 200) AS dmax FROM rk
), steps AS (
  SELECT CAST(unnest(range(1, (SELECT dmax FROM nn) + 1)) AS BIGINT)
    AS d
), th AS (
  SELECT s.d, a.user_id AS u1, a.s1 AS v1, b.user_id AS u2,
         b.s2 AS v2, a.s1 + b.s2 AS threshold
  FROM steps s
  JOIN rk a ON a.r1 = s.d
  JOIN rk b ON b.r2 = s.d
), seen AS (
  SELECT s.d, r.user_id, r.total,
         row_number() OVER (PARTITION BY s.d
                            ORDER BY r.total DESC, r.user_id) AS rn
  FROM steps s JOIN rk r ON least(r.r1, r.r2) <= s.d
), kb AS (
  SELECT d, max(CASE WHEN rn = 5 THEN total END) AS kth
  FROM seen GROUP BY d
), st AS (
  SELECT th.d, th.u1, th.v1, th.u2, th.v2, th.threshold, kb.kth,
         kb.kth IS NOT NULL AND kb.kth >= th.threshold AS stopped
  FROM th JOIN kb ON kb.d = th.d
), stp AS (
  SELECT coalesce(min(d) FILTER (WHERE stopped),
                  (SELECT dmax FROM nn)) AS stop_d
  FROM st
), top5 AS (
  SELECT string_agg(CAST(user_id AS VARCHAR) || ':'
                    || CAST(total AS VARCHAR), ',' ORDER BY rn)
    AS ta_top5
  FROM seen
  WHERE d = (SELECT stop_d FROM stp) AND rn <= 5
), brute AS (
  SELECT string_agg(CAST(user_id AS VARCHAR) || ':'
                    || CAST(total AS VARCHAR), ',' ORDER BY rn) AS b5
  FROM (SELECT user_id, total,
               row_number() OVER (ORDER BY total DESC, user_id) AS rn
        FROM rk)
  WHERE rn <= 5
)
SELECT CAST(s.d AS INTEGER) AS d, s.u1, CAST(s.v1 AS BIGINT) AS v1,
       s.u2, CAST(s.v2 AS BIGINT) AS v2,
       CAST(s.threshold AS BIGINT) AS threshold,
       CAST(s.kth AS BIGINT) AS kth_best, s.stopped,
       CAST((SELECT stop_d FROM stp) AS INTEGER) AS stop_step,
       CAST((SELECT n FROM nn) AS BIGINT) AS n_users,
       (SELECT ta_top5 FROM top5) AS ta_top5,
       (SELECT b5 FROM brute) AS brute_top5,
       (SELECT ta_top5 FROM top5) = (SELECT b5 FROM brute)
         AS ta_exact_ok,
       (SELECT stop_d FROM stp) < (SELECT n FROM nn)
         AS early_stop
FROM st s WHERE s.d <= (SELECT stop_d FROM stp)
"""


@register("q_events_ta_topk", _TA_SQL)
def q_events_ta_topk(spark, sf_dir):
    """Fagin's Threshold Algorithm (the middleware top-k join: optimal
    for aggregating ranked lists without scanning them) over two real
    rankings — per-user click-value cents and purchase-value cents:
    sorted access walks both lists in parallel, every seen user is
    random-accessed for its other score, and the walk STOPS the first
    depth d where the 5th-best complete score reaches the threshold
    T(d) = L1[d] + L2[d] — at which point the theorem guarantees the
    top-5 is exact, pinned here against an independent full-sort brute
    force (ta_exact_ok) with the early-stop depth emitted beside the
    corpus size (the instance-optimality TA exists for). The per-depth
    state (threshold, kth-best-so-far) is computed SET-AT-A-TIME — a
    steps x users join with one rank window per depth, no sequential
    walk — exactly how a distributed engine would evaluate TA's stop
    condition over partitioned rankings. Depth capped at 200 with an
    honest full-scan fallback (stop_step = n) that keeps the pin
    meaningful either way."""
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    sc = (e.groupBy("user_id")
          .agg(F.sum(F.when(F.col("event_type") == "click", cents)
                     .otherwise(0)).alias("s1"),
               F.sum(F.when(F.col("event_type") == "purchase", cents)
                     .otherwise(0)).alias("s2")))
    rk = (sc.withColumn("total", F.col("s1") + F.col("s2"))
          .withColumn("r1", F.row_number().over(
              Window.orderBy(F.desc("s1"), "user_id")))
          .withColumn("r2", F.row_number().over(
              Window.orderBy(F.desc("s2"), "user_id")))).persist()
    n = rk.count()
    dmax = min(n, 200)
    steps = spark.range(1, dmax + 1).select(F.col("id").alias("d"))
    th = (steps.join(rk.select(F.col("r1").alias("d"),
                               F.col("user_id").alias("u1"),
                               F.col("s1").alias("v1")), "d")
          .join(rk.select(F.col("r2").alias("d"),
                          F.col("user_id").alias("u2"),
                          F.col("s2").alias("v2")), "d")
          .withColumn("threshold", F.col("v1") + F.col("v2")))
    seen = (steps.join(rk, F.least("r1", "r2") <= F.col("d"))
            .select("d", "user_id", "total")
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("d")
                .orderBy(F.desc("total"), "user_id"))))
    kb = seen.groupBy("d").agg(
        F.max(F.when(F.col("rn") == 5, F.col("total"))).alias("kth"))
    st = (th.join(kb, "d")
          .withColumn("stopped", F.col("kth").isNotNull()
                      & (F.col("kth") >= F.col("threshold"))))
    stop_d = (st.agg(F.coalesce(
        F.min(F.when(F.col("stopped"), F.col("d"))),
        F.lit(dmax)).alias("s")).collect()[0]["s"])
    item = F.concat(F.col("user_id").cast("string"), F.lit(":"),
                    F.col("total").cast("string"))
    ta5 = (seen.filter((F.col("d") == stop_d) & (F.col("rn") <= 5))
           .orderBy("rn").agg(F.concat_ws(",", F.collect_list(item))
                              .alias("t")).collect()[0]["t"])
    b5 = (rk.withColumn("rn", F.row_number().over(
        Window.orderBy(F.desc("total"), "user_id")))
        .filter(F.col("rn") <= 5).orderBy("rn")
        .agg(F.concat_ws(",", F.collect_list(item)).alias("t"))
        .collect()[0]["t"])
    return (st.filter(F.col("d") <= stop_d)
            .select(F.col("d").cast("int").alias("d"), "u1",
                    F.col("v1").cast("long").alias("v1"), "u2",
                    F.col("v2").cast("long").alias("v2"),
                    F.col("threshold").cast("long").alias("threshold"),
                    F.col("kth").cast("long").alias("kth_best"),
                    "stopped",
                    F.lit(int(stop_d)).cast("int").alias("stop_step"),
                    F.lit(n).cast("long").alias("n_users"),
                    F.lit(ta5).alias("ta_top5"),
                    F.lit(b5).alias("brute_top5"),
                    F.lit(ta5 == b5).alias("ta_exact_ok"),
                    F.lit(bool(stop_d < n)).alias("early_stop")))


_FM_PATTERNS = ["the", "ing", "data", "qu"]


def _fm_sql() -> str:
    # per-pattern backward-search chains as generated LATERALs; the
    # pattern characters are compile-time constants, all interval
    # arithmetic runs on the data-derived C/occ tables
    pats = []
    for p in _FM_PATTERNS:
        chain = []
        last = p[-1]
        chain.append(
            f"LATERAL (SELECT coalesce((SELECT c FROM ctab"
            f" WHERE ch = '{last}'), 0) + 1 AS sp,"
            f" coalesce((SELECT c FROM ctab WHERE ch = '{last}'), 0)"
            f" + coalesce((SELECT cnt FROM freq WHERE ch = '{last}'),"
            f" 0) AS ep) st1")
        for k, c in enumerate(reversed(p[:-1]), start=2):
            prev = f"st{k - 1}"
            chain.append(
                f"LATERAL (SELECT CASE WHEN {prev}.sp > {prev}.ep"
                f" THEN {prev}.sp ELSE"
                f" coalesce((SELECT c FROM ctab WHERE ch = '{c}'), 0)"
                f" + (SELECT count(*) FROM ranked WHERE ch = '{c}'"
                f" AND rank <= {prev}.sp - 1) + 1 END AS sp,"
                f" CASE WHEN {prev}.sp > {prev}.ep THEN {prev}.ep ELSE"
                f" coalesce((SELECT c FROM ctab WHERE ch = '{c}'), 0)"
                f" + (SELECT count(*) FROM ranked WHERE ch = '{c}'"
                f" AND rank <= {prev}.ep) END AS ep) st{k}")
        steps_rows = []
        for k in range(1, len(p) + 1):
            c = p[len(p) - k]
            steps_rows.append(
                f"SELECT '{p}' AS pattern, {k} AS step, '{c}' AS ch,"
                f" CAST(st{k}.sp AS BIGINT) AS sp,"
                f" CAST(st{k}.ep AS BIGINT) AS ep,"
                f" CAST(greatest(st{k}.ep - st{k}.sp + 1, 0) AS BIGINT)"
                f" AS width,"
                f" CAST(greatest(st{len(p)}.ep - st{len(p)}.sp + 1, 0)"
                f" AS BIGINT) AS fm_count,"
                f" CAST((length((SELECT s FROM d))"
                f" - length(replace((SELECT s FROM d), '{p}', '')))"
                f" // {len(p)} AS BIGINT) AS direct_count"
                f" FROM {' , '.join(['(SELECT 1) one'] + chain)}")
        pats.append(" UNION ALL ".join(steps_rows))
    body = " UNION ALL ".join(pats)
    return f"""
WITH d AS (
  SELECT regexp_replace(lower(substr(text, 1, 200)), '[^a-z ]', '', 'g')
         || '!' AS s
  FROM documents ORDER BY doc_id LIMIT 1
), idx AS (
  SELECT unnest(range(1, length((SELECT s FROM d)) + 1)) AS i
), rot AS (
  SELECT CAST(i AS INTEGER) AS start_idx,
         substr(d.s, CAST(i AS INTEGER))
           || substr(d.s, 1, CAST(i AS INTEGER) - 1) AS r,
         d.s AS s
  FROM idx, d
), ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY r) AS INTEGER) AS rank,
         substr(r, length(s), 1) AS ch
  FROM rot
), freq AS (
  SELECT ch, count(*) AS cnt FROM ranked GROUP BY ch
), ctab AS (
  SELECT f.ch, coalesce(sum(g.cnt), 0) AS c
  FROM freq f LEFT JOIN freq g ON g.ch < f.ch
  GROUP BY f.ch
), res AS ({body})
SELECT pattern, CAST(step AS INTEGER) AS step, ch, sp, ep, width,
       fm_count, direct_count, fm_count = direct_count AS fm_exact_ok
FROM res
"""


@register("text_fm_index_search", _fm_sql())
def text_fm_index_search(spark, sf_dir):
    """FM-index backward search (Ferragina-Manzini — the compressed
    substring index inside bwa/bowtie) over the same 200-char
    normalized document prefix as text_bwt_runs: BWT from sorted
    rotations, C table from the character histogram, and each pattern
    matched RIGHT to LEFT by the classic interval recurrence sp' =
    C[c] + Occ(c, sp−1) + 1, ep' = C[c] + Occ(c, ep) — every step of
    every interval emitted (sp, ep, width per consumed character), and
    the final interval width pinned equal to a direct substring count
    computed by length arithmetic in both engines (the four probe
    patterns are chosen border-free so overlapping and non-overlapping
    counts coincide and the replace-based direct count is exact).
    Empty intervals propagate honestly (width 0 stays 0). The trio
    text_bwt_runs / text_bwt_inverse / this row now covers build,
    invert and SEARCH on the same transform. Engine: bounded driver
    replay over the same rotations; oracle: generated per-pattern
    LATERAL chains with correlated Occ subqueries against the ranked
    rotation table."""
    import re as _re
    txt = (_t(spark, sf_dir, "documents").orderBy("doc_id")
           .limit(1).collect()[0]["text"])
    s = _re.sub(r"[^a-z ]", "", txt[:200].lower()) + "!"
    n = len(s)
    rots = sorted(s[i:] + s[:i] for i in range(n))
    bwt = [r[-1] for r in rots]
    freq: dict = {}
    for c in s:
        freq[c] = freq.get(c, 0) + 1
    ctab = {c: sum(v for k, v in freq.items() if k < c) for c in freq}

    def occ(c, i):
        return sum(1 for x in bwt[:i] if x == c)

    rows = []
    for p in _FM_PATTERNS:
        direct = (len(s) - len(s.replace(p, ""))) // len(p)
        c = p[-1]
        sp = ctab.get(c, 0) + 1
        ep = ctab.get(c, 0) + freq.get(c, 0)
        steps = [(1, c, sp, ep)]
        for k, c in enumerate(reversed(p[:-1]), start=2):
            if sp > ep:
                steps.append((k, c, sp, ep))
                continue
            sp2 = ctab.get(c, 0) + occ(c, sp - 1) + 1
            ep2 = ctab.get(c, 0) + occ(c, ep)
            sp, ep = sp2, ep2
            steps.append((k, c, sp, ep))
        fm = max(ep - sp + 1, 0)
        for k, c, a, b in steps:
            rows.append((p, k, c, a, b, max(b - a + 1, 0), fm, direct,
                         fm == direct))
    return spark.createDataFrame(
        rows, "pattern string, step int, ch string, sp long, ep long,"
              " width long, fm_count long, direct_count long,"
              " fm_exact_ok boolean")


_WAVELET_SQL = """
WITH words AS (
  SELECT doc_id, wp, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS wp
        FROM documents)
  WHERE word <> ''
), seq0 AS (
  SELECT word, row_number() OVER (ORDER BY doc_id, wp) AS pos
  FROM words
), seq AS (
  SELECT word, pos FROM seq0 WHERE pos <= 512
), vocab AS (
  SELECT word, row_number() OVER (ORDER BY word) - 1 AS wid
  FROM (SELECT DISTINCT word FROM seq)
), s AS (
  SELECT q.pos, q.word, v.wid
  FROM seq q JOIN vocab v ON v.word = q.word
), nn AS (
  SELECT count(*) AS n FROM s
), lv AS (
  SELECT l.l, s.pos, s.wid,
         s.wid // CAST(power(2, 5 - l.l) AS BIGINT) AS node,
         (s.wid // CAST(power(2, 4 - l.l) AS BIGINT)) % 2 AS bit,
         row_number() OVER (PARTITION BY l.l,
             s.wid // CAST(power(2, 5 - l.l) AS BIGINT)
             ORDER BY s.pos) AS npos
  FROM s, (SELECT unnest(range(0, 5)) AS l) l
), freq AS (
  SELECT s.wid, s.word, count(*) AS cnt
  FROM s GROUP BY s.wid, s.word
), pw AS (
  SELECT word, wid, rf FROM (
    SELECT word, wid, row_number() OVER (ORDER BY cnt DESC, word)
      AS rf
    FROM freq)
  WHERE rf IN (1, 3, 7, 15)
), probes AS (
  SELECT p.word, p.wid, i.i
  FROM pw p, LATERAL (
    SELECT (SELECT n FROM nn) // 4 AS i
    UNION ALL SELECT (SELECT n FROM nn) // 2) i
), de AS (
  SELECT pr.word, pr.wid, pr.i,
         d0.c AS i1, d1.c AS i2, d2.c AS i3, d3.c AS i4, d4.c AS i5
  FROM probes pr
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 0
            AND lv.node = pr.wid // 32
            AND lv.npos <= pr.i
            AND lv.bit = (pr.wid // 16) % 2) AS c) d0
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 1
            AND lv.node = pr.wid // 16
            AND lv.npos <= d0.c
            AND lv.bit = (pr.wid // 8) % 2) AS c) d1
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 2
            AND lv.node = pr.wid // 8
            AND lv.npos <= d1.c
            AND lv.bit = (pr.wid // 4) % 2) AS c) d2
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 3
            AND lv.node = pr.wid // 4
            AND lv.npos <= d2.c
            AND lv.bit = (pr.wid // 2) % 2) AS c) d3
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 4
            AND lv.node = pr.wid // 2
            AND lv.npos <= d3.c
            AND lv.bit = pr.wid % 2) AS c) d4
)
SELECT d.word, CAST(d.wid AS INTEGER) AS wid, CAST(d.i AS BIGINT) AS i,
       CAST(d.i1 AS BIGINT) AS l1_rank, CAST(d.i2 AS BIGINT) AS l2_rank,
       CAST(d.i3 AS BIGINT) AS l3_rank, CAST(d.i4 AS BIGINT) AS l4_rank,
       CAST(d.i5 AS BIGINT) AS wavelet_rank,
       CAST((SELECT count(*) FROM s
             WHERE s.word = d.word AND s.pos <= d.i) AS BIGINT)
         AS direct_rank,
       d.i5 = (SELECT count(*) FROM s
               WHERE s.word = d.word AND s.pos <= d.i) AS rank_ok,
       CAST((SELECT n FROM nn) AS BIGINT) AS n,
       CAST((SELECT count(*) FROM vocab) AS INTEGER) AS vocab_size
FROM de d
"""


@register("text_wavelet_tree_rank", _WAVELET_SQL)
def text_wavelet_tree_rank(spark, sf_dir):
    """Wavelet tree rank queries (Grossi-Gupta-Vitter — the succinct
    sequence index behind FM-index Occ tables and compressed column
    stores) over the corpus's first 512 words mapped to 5-bit
    alphabetical ids: the tree needs NO iterative construction because
    stable bit-partitioning preserves original order inside every node,
    so each depth's (node, position, bit) table is a closed form — one
    row_number window per depth over the id's high bits. rank(word, i)
    then descends the five levels with the classic recurrence iₗ₊₁ =
    rank_bit(node, iₗ), every intermediate interval position emitted,
    and the result pinned against a direct windowed count on the raw
    sequence — for eight probes spanning frequent and rare words at two
    depths. The level tables are the distributed part (pure windows by
    (depth, node), the per-partition shape of a column-store index
    build); each probe's descent is five O(1) lookups. Completes the
    succinct-structure family beside Elias-Fano and the BWT trio.
    Engine: bounded driver replay over the same 512-word sequence;
    oracle: correlated-count descent through chained LATERALs."""
    rows = (_t(spark, sf_dir, "documents")
            .select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("wp", "word"))
            .filter(F.col("word") != "")
            .select("doc_id", "wp", "word")
            .orderBy("doc_id", "wp").limit(512).collect())
    seqw = [r["word"] for r in rows]
    n = len(seqw)
    vocab = {w: i for i, w in enumerate(sorted(set(seqw)))}
    from collections import Counter
    cnt = Counter(seqw)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    picks = [ranked[j][0] for j in (0, 2, 6, 14) if j < len(ranked)]
    out = []
    for w in picks:
        wid = vocab[w]
        for i in (n // 4, n // 2):
            ip = i
            inter = []
            for l in range(5):
                node = wid >> (5 - l)
                bit = (wid >> (4 - l)) & 1
                node_elems = [x for x in seqw
                              if vocab[x] >> (5 - l) == node]
                ip = sum(1 for x in node_elems[:ip]
                         if (vocab[x] >> (4 - l)) & 1 == bit)
                inter.append(ip)
            direct = sum(1 for x in seqw[:i] if x == w)
            out.append((w, wid, i, inter[0], inter[1], inter[2],
                        inter[3], inter[4], direct,
                        inter[4] == direct, n, len(vocab)))
    return spark.createDataFrame(
        out, "word string, wid int, i long, l1_rank long, l2_rank long,"
             " l3_rank long, l4_rank long, wavelet_rank long,"
             " direct_rank long, rank_ok boolean, n long,"
             " vocab_size int")


_LEARNED_IDX_SQL = """
WITH ks AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('li:' || CAST(doc_id AS VARCHAR)),
                                  1, 12)) AS BIGINT) AS key
  FROM documents
), rk AS (
  SELECT doc_id, key,
         row_number() OVER (ORDER BY key, doc_id) - 1 AS pos
  FROM ks
), seg AS (
  SELECT rk.*, key // 35184372088832 AS sg   -- top 3 bits of 48
  FROM rk
), sb AS (
  SELECT sg, min(pos) AS base, count(*) AS n_seg,
         min(key) AS lo, max(key) AS hi
  FROM seg GROUP BY sg
), pred AS (
  SELECT s.sg, s.doc_id, s.key, s.pos, b.base, b.n_seg, b.lo, b.hi,
         b.base + CASE WHEN b.hi = b.lo THEN 0
           ELSE (s.key - b.lo) * (b.n_seg - 1) // (b.hi - b.lo) END
           AS ppos
  FROM seg s JOIN sb b ON b.sg = s.sg
), err AS (
  SELECT sg, max(abs(pos - ppos)) AS maxerr,
         sum(abs(pos - ppos)) AS toterr, count(*) AS n_seg
  FROM pred GROUP BY sg
), chk AS (
  SELECT p.sg,
         bool_and(p.pos BETWEEN p.ppos - e.maxerr
                  AND p.ppos + e.maxerr) AS all_covered
  FROM pred p JOIN err e ON e.sg = p.sg
  GROUP BY p.sg
), tot AS (
  SELECT count(*) AS n, max(pos) AS maxpos FROM rk
)
SELECT CAST(e.sg AS INTEGER) AS segment,
       CAST(e.n_seg AS BIGINT) AS n_keys,
       CAST(b.lo AS BIGINT) AS key_lo, CAST(b.hi AS BIGINT) AS key_hi,
       CAST(b.base AS BIGINT) AS pos_base,
       CAST(e.maxerr AS BIGINT) AS max_err,
       CAST(e.toterr * 1000000 // e.n_seg AS BIGINT) AS mean_err_e6,
       c.all_covered,
       CAST(length(bin(GREATEST(2 * e.maxerr + 1, 1))) AS INTEGER)
         AS search_bits,
       CAST(length(bin(GREATEST((SELECT n FROM tot), 1))) AS INTEGER)
         AS full_bits,
       length(bin(GREATEST(2 * e.maxerr + 1, 1)))
         <= length(bin(GREATEST((SELECT n FROM tot), 1)))
         AS never_worse,
       CAST((SELECT n FROM tot) AS BIGINT) AS n_total
FROM err e JOIN sb b ON b.sg = e.sg JOIN chk c ON c.sg = e.sg
"""


@register("q_docs_learned_index", _LEARNED_IDX_SQL)
def q_docs_learned_index(spark, sf_dir):
    """Learned index in the RadixSpline/PLEX style (the CDF-model
    alternative to B+-trees): 48-bit md5-spread keys per document,
    partitioned into 8 radix segments by their top 3 bits, each segment
    modeled by the exact integer CDF line pos ≈ base + (key−lo)·(n−1)
    div (hi−lo) — no floats anywhere — with the per-segment MAXIMUM
    prediction error measured against true ranks and the lookup
    contract pinned: every key's true position lies within
    [pred−maxerr, pred+maxerr] (all_covered), so a lookup binary-
    searches log2(2·maxerr+1) positions instead of log2(n) — both bit
    counts emitted with never_worse pinned, the exact win a learned
    index is built for (near-uniform keys give single-digit errors
    where the B+-tree row pays its full height). Ranks, segment stats
    and error maxima are one window plus two aggregates — fully
    distributed, the same shape at 10⁹ keys. The B+-tree bulk-load row
    over the same table is the classical baseline this replaces."""
    ks = (_t(spark, sf_dir, "documents")
          .select("doc_id", F.conv(F.substring(F.md5(F.concat(
              F.lit("li:"), F.col("doc_id").cast("string"))), 1, 12),
              16, 10).cast("long").alias("key")))
    rk = ks.withColumn("pos", F.row_number().over(
        Window.orderBy("key", "doc_id")) - 1)
    seg = rk.withColumn("sg", F.expr("key div 35184372088832"))
    sb = seg.groupBy("sg").agg(F.min("pos").alias("base"),
                               F.count(F.lit(1)).alias("n_seg"),
                               F.min("key").alias("lo"),
                               F.max("key").alias("hi"))
    pred = (seg.join(sb, "sg")
            .withColumn("ppos", F.col("base") + F.when(
                F.col("hi") == F.col("lo"), 0).otherwise(
                F.expr("(key - lo) * (n_seg - 1) div (hi - lo)"))))
    err = pred.groupBy("sg").agg(
        F.max(F.abs(F.col("pos") - F.col("ppos"))).alias("maxerr"),
        F.sum(F.abs(F.col("pos") - F.col("ppos"))).alias("toterr"),
        F.count(F.lit(1)).alias("n_seg2"))
    chk = (pred.join(err, "sg")
           .groupBy("sg")
           .agg(F.min((F.col("pos") >= F.col("ppos") - F.col("maxerr"))
                      & (F.col("pos") <= F.col("ppos")
                         + F.col("maxerr"))).alias("all_covered")))
    tot = rk.agg(F.count(F.lit(1)).alias("n"))
    bits = lambda c: F.length(F.bin(F.greatest(c, F.lit(1))))  # noqa: E731
    return (err.join(sb, "sg").join(chk, "sg")
            .crossJoin(F.broadcast(tot))
            .select(F.col("sg").cast("int").alias("segment"),
                    F.col("n_seg2").cast("long").alias("n_keys"),
                    F.col("lo").cast("long").alias("key_lo"),
                    F.col("hi").cast("long").alias("key_hi"),
                    F.col("base").cast("long").alias("pos_base"),
                    F.col("maxerr").cast("long").alias("max_err"),
                    F.expr("toterr * 1000000 div n_seg2").cast("long")
                    .alias("mean_err_e6"),
                    "all_covered",
                    bits(2 * F.col("maxerr") + 1).cast("int")
                    .alias("search_bits"),
                    bits(F.col("n")).cast("int").alias("full_bits"),
                    (bits(2 * F.col("maxerr") + 1) <= bits(F.col("n")))
                    .alias("never_worse"),
                    F.col("n").cast("long").alias("n_total")))


_APRIORI_SQL = """
WITH um AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         + max(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END)
         + max(CASE WHEN event_type = 'purchase' THEN 4 ELSE 0 END)
         + max(CASE WHEN event_type = 'signup' THEN 8 ELSE 0 END)
         + max(CASE WHEN event_type = 'view' THEN 16 ELSE 0 END)
           AS mask
  FROM events GROUP BY user_id
), nn AS (
  SELECT count(*) AS n FROM um
), its AS (
  SELECT CAST(s AS BIGINT) AS iset
  FROM (SELECT unnest(range(1, 32)) AS s)
), sup AS (
  SELECT i.iset,
         (SELECT count(*) FROM um
          WHERE (um.mask & i.iset) = i.iset) AS support
  FROM its i
), base AS (
  SELECT s.iset, s.support,
         bit_count(CAST(s.iset AS BIGINT)) AS k,
         s.support * 10 >= (SELECT n FROM nn) AS frequent
  FROM sup s
), am AS (
  SELECT b.iset,
         bool_and(p.support >= b.support) AS antimonotone_ok
  FROM base b
  JOIN base p ON b.k > 1 AND p.k = b.k - 1
             AND (b.iset & p.iset) = p.iset
  GROUP BY b.iset
), maxi AS (
  SELECT b.iset,
         b.frequent AND NOT EXISTS (
           SELECT 1 FROM base sup2
           WHERE sup2.k = b.k + 1 AND (sup2.iset & b.iset) = b.iset
             AND sup2.frequent) AS is_maximal
  FROM base b
)
SELECT CAST(b.iset AS INTEGER) AS iset,
       concat(CASE WHEN b.iset & 1 > 0 THEN 'C' ELSE '' END,
              CASE WHEN b.iset & 2 > 0 THEN 'E' ELSE '' END,
              CASE WHEN b.iset & 4 > 0 THEN 'P' ELSE '' END,
              CASE WHEN b.iset & 8 > 0 THEN 'S' ELSE '' END,
              CASE WHEN b.iset & 16 > 0 THEN 'V' ELSE '' END)
         AS items,
       CAST(b.k AS INTEGER) AS k, CAST(b.support AS BIGINT) AS support,
       b.frequent, coalesce(a.antimonotone_ok, TRUE) AS antimonotone_ok,
       m.is_maximal,
       CAST((SELECT n FROM nn) AS BIGINT) AS n_users
FROM base b
LEFT JOIN am a ON a.iset = b.iset
JOIN maxi m ON m.iset = b.iset
"""


@register("q_events_apriori_itemsets", _APRIORI_SQL)
def q_events_apriori_itemsets(spark, sf_dir):
    """Apriori frequent itemsets over each user's SET of event types,
    evaluated exactly by bitmask algebra — a user's behavior profile is
    one 5-bit mask, itemset support is a superset test (mask & S = S),
    and all 31 candidate itemsets are scored in one pass against the
    per-user mask table. The property the Apriori algorithm EXISTS for
    is pinned on every itemset: antimonotonicity — support(S) never
    exceeds the support of any (k−1)-subset, verified by a real
    subset join — plus the maximal-frequent frontier (frequent with no
    frequent superset, the condensed output a miner would report) at a
    10% support threshold. The per-user mask aggregate is the only
    data-sized stage (map-side combinable); the 31-itemset lattice is
    planner-scale. No replay, no recursion, either engine."""
    e = _t(spark, sf_dir, "events")
    bit = {"click": 1, "error": 2, "purchase": 4, "signup": 8,
           "view": 16}
    aggs = [F.max(F.when(F.col("event_type") == t, b).otherwise(0))
            .alias(f"b{b}") for t, b in bit.items()]
    um = (e.groupBy("user_id").agg(*aggs)
          .select((sum(F.col(f"b{b}") for b in bit.values()))
                  .alias("mask")))
    n = um.count()
    its = spark.range(1, 32).select(F.col("id").alias("iset"))
    sup = (its.crossJoin(um)
           .groupBy("iset")
           .agg(F.sum(F.when(
               F.expr("(mask & iset) = iset"), 1).otherwise(0))
               .alias("support")))
    base = (sup.withColumn("k", F.bit_count("iset").cast("int"))
            .withColumn("frequent", F.col("support") * 10 >= F.lit(n))
            ).persist()
    b2 = base.select(F.col("iset").alias("piset"),
                     F.col("support").alias("psupport"),
                     F.col("k").alias("pk"),
                     F.col("frequent").alias("pfrequent"))
    anti = (base.join(b2, F.expr(
        "k > 1 AND pk = k - 1 AND (iset & piset) = piset"))
        .groupBy("iset")
        .agg(F.min(F.col("psupport") >= F.col("support"))
             .alias("antimonotone_ok")))
    maxi = (base.join(b2, F.expr(
        "pk = k + 1 AND (piset & iset) = iset AND pfrequent"), "left")
        .groupBy("iset")
        .agg((F.first("frequent")
              & (F.count(F.col("piset")) == 0)).alias("is_maximal")))
    items = F.concat(
        F.when(F.expr("iset & 1 > 0"), "C").otherwise(""),
        F.when(F.expr("iset & 2 > 0"), "E").otherwise(""),
        F.when(F.expr("iset & 4 > 0"), "P").otherwise(""),
        F.when(F.expr("iset & 8 > 0"), "S").otherwise(""),
        F.when(F.expr("iset & 16 > 0"), "V").otherwise(""))
    return (base.join(anti, "iset", "left").join(maxi, "iset")
            .select(F.col("iset").cast("int").alias("iset"),
                    items.alias("items"),
                    F.col("k").cast("int").alias("k"),
                    F.col("support").cast("long").alias("support"),
                    "frequent",
                    F.coalesce("antimonotone_ok", F.lit(True))
                    .alias("antimonotone_ok"),
                    "is_maximal",
                    F.lit(n).cast("long").alias("n_users")))


_GOLOMB_SQL = """
WITH pid AS (
  SELECT event_id AS x,
         row_number() OVER (ORDER BY event_id) AS rn
  FROM events WHERE event_type = 'purchase'
), gaps AS (
  SELECT p.rn, p.x,
         p.x - coalesce(lag(p.x) OVER (ORDER BY p.x), -1) AS g
  FROM pid p
), stats AS (
  SELECT count(*) AS n, sum(g) AS totg, max(g) AS maxg FROM gaps
), scan AS (
  SELECT b.b,
         (SELECT sum(((g.g - 1) // (CAST(1 AS BIGINT) << b.b)) + 1
                     + b.b) FROM gaps g) AS bits
  FROM (SELECT unnest(range(0, 17)) AS b) b
), best AS (
  SELECT b AS bstar, bits AS best_bits
  FROM scan ORDER BY bits, b LIMIT 1
), heur AS (
  SELECT greatest(length(bin(GREATEST(
           (SELECT totg FROM stats) * 693
           // ((SELECT n FROM stats) * 1000), 1))) - 1, 0) AS bh
), hbits AS (
  SELECT (SELECT sum(((g.g - 1) // (CAST(1 AS BIGINT)
             << (SELECT bh FROM heur))) + 1 + (SELECT bh FROM heur))
          FROM gaps g) AS heur_bits
), plain AS (
  SELECT (SELECT n FROM stats)
         * length(bin(GREATEST((SELECT maxg FROM stats), 1)))
           AS plain_bits
)
SELECT CAST(s.b AS INTEGER) AS b, CAST(s.bits AS BIGINT) AS total_bits,
       CAST((SELECT bstar FROM best) AS INTEGER) AS b_star,
       CAST((SELECT best_bits FROM best) AS BIGINT) AS best_bits,
       s.bits >= (SELECT best_bits FROM best) AS bstar_optimal_ok,
       CAST((SELECT bh FROM heur) AS INTEGER) AS b_heuristic,
       CAST((SELECT heur_bits FROM hbits) AS BIGINT) AS heuristic_bits,
       (SELECT best_bits FROM best) <= (SELECT heur_bits FROM hbits)
         AS best_le_heuristic,
       CAST((SELECT plain_bits FROM plain) AS BIGINT) AS plain_bits,
       (SELECT best_bits FROM best) < (SELECT plain_bits FROM plain)
         AS beats_plain,
       CAST((SELECT n FROM stats) AS BIGINT) AS n_gaps
FROM scan s
"""


@register("search_golomb_gaps", _GOLOMB_SQL)
def search_golomb_gaps(spark, sf_dir):
    """Golomb-Rice coding of the purchase posting list's gaps — the
    inverted-index gap compression that preceded Elias-Fano (and still
    backs Lucene doc deltas): for every Rice parameter b in 0..16 the
    exact encoded size Σ((g−1)>>b + 1 + b) is computed in ONE
    conditional-aggregate scan (no per-b passes over data — the scan
    is a 17-row broadcast against the gap table), the optimal b* is
    the argmin with every row pinned ≥ best (bstar_optimal_ok), the
    classic heuristic b ≈ log2(0.69·mean_gap) — integer bit-length
    math, no logs — rides beside it pinned never better than the
    exhaustive optimum, and the whole code is pinned smaller than
    fixed-width max-gap encoding. Gaps come from one lag window over
    the filtered postings; everything else is aggregate arithmetic —
    the per-term shape of an index compressor at any scale."""
    e = _t(spark, sf_dir, "events")
    pid = (e.filter(F.col("event_type") == "purchase")
           .select(F.col("event_id").alias("x")))
    gaps = pid.select(
        (F.col("x") - F.coalesce(
            F.lag("x").over(Window.orderBy("x")), F.lit(-1)))
        .alias("g")).persist()
    st = gaps.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("g").alias("totg"),
                  F.max("g").alias("maxg")).collect()[0]
    n, totg, maxg = int(st["n"]), int(st["totg"]), int(st["maxg"])
    bs = spark.range(0, 17).select(F.col("id").cast("int").alias("b"))
    scan = (bs.crossJoin(gaps)
            .groupBy("b")
            .agg(F.sum(F.expr(
                "((g - 1) div shiftleft(CAST(1 AS BIGINT), b)) + 1 + b"))
                .alias("bits")))
    rows = {int(r["b"]): int(r["bits"]) for r in scan.collect()}
    bstar = min(rows, key=lambda b: (rows[b], b))
    bh = max((totg * 693 // (n * 1000)).bit_length() - 1, 0)
    heur_bits = rows[bh]
    plain_bits = n * max(maxg.bit_length(), 1)
    out = [(b, bits, bstar, rows[bstar], bits >= rows[bstar], bh,
            heur_bits, rows[bstar] <= heur_bits, plain_bits,
            rows[bstar] < plain_bits, n)
           for b, bits in sorted(rows.items())]
    return spark.createDataFrame(
        out, "b int, total_bits long, b_star int, best_bits long,"
             " bstar_optimal_ok boolean, b_heuristic int,"
             " heuristic_bits long, best_le_heuristic boolean,"
             " plain_bits long, beats_plain boolean, n_gaps long")


_TREAP_SQL = """
WITH ks AS (
  SELECT doc_id AS key,
         CAST(concat('0x', substr(md5('tp:' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS prio
  FROM documents WHERE doc_id < 512
), nsl AS (
  SELECT a.key, a.prio,
         max(b.key) AS lkey
  FROM ks a LEFT JOIN ks b ON b.key < a.key AND b.prio < a.prio
  GROUP BY a.key, a.prio
), nsr AS (
  SELECT a.key, min(b.key) AS rkey
  FROM ks a LEFT JOIN ks b ON b.key > a.key AND b.prio < a.prio
  GROUP BY a.key
), par AS (
  SELECT l.key, l.prio, l.lkey, r.rkey,
         CASE
           WHEN l.lkey IS NULL AND r.rkey IS NULL THEN NULL
           WHEN l.lkey IS NULL THEN r.rkey
           WHEN r.rkey IS NULL THEN l.lkey
           WHEN (SELECT prio FROM ks WHERE key = l.lkey)
                > (SELECT prio FROM ks WHERE key = r.rkey)
             THEN l.lkey
           ELSE r.rkey END AS parent_key
  FROM nsl l JOIN nsr r ON r.key = l.key
), sided AS (
  SELECT p.key, p.prio, p.parent_key,
         CASE WHEN p.parent_key IS NULL THEN 'root'
              WHEN p.key < p.parent_key THEN 'L' ELSE 'R' END AS side,
         (SELECT prio FROM ks WHERE key = p.parent_key) AS pprio
  FROM par p
)
SELECT s.key, s.prio, coalesce(s.parent_key, -1) AS parent_key, s.side,
       s.parent_key IS NULL OR s.pprio < s.prio AS heap_ok,
       s.parent_key IS NULL
         OR (s.side = 'L' AND s.key < s.parent_key)
         OR (s.side = 'R' AND s.key > s.parent_key) AS bst_ok,
       CAST(count(*) OVER (PARTITION BY s.parent_key, s.side)
            AS INTEGER) AS siblings,
       s.parent_key IS NULL
         OR count(*) OVER (PARTITION BY s.parent_key, s.side) = 1
         AS unique_child_ok,
       CAST(sum(CASE WHEN s.parent_key IS NULL THEN 1 ELSE 0 END)
            OVER () AS INTEGER) AS n_roots
FROM sided s
"""


@register("q_docs_treap_shape", _TREAP_SQL)
def q_docs_treap_shape(spark, sf_dir):
    """Treap / Cartesian tree over the document keys with md5
    priorities — the randomized-BST canonical-form theorem made
    machine-checkable: the ENGINE builds the treap by literal BST
    insertion with rotations (bubble a node up while its priority
    beats its parent's), the ORACLE builds it with zero insertions via
    the Cartesian-tree closed form (a node's parent is whichever of
    its two nearest-smaller-priority neighbors — by key, found with
    two order joins — has the LARGER priority), and the correctness
    gate's value-hash equality proves the two constructions coincide,
    i.e. the treap's shape depends only on the (key, priority) set,
    never on insertion order. Heap order, BST sidedness, one-child-
    per-(parent,side) and single-root are additionally pinned per
    node. The closed form is join+group work (no sequential pass) —
    the canonical example of turning a pointer-machine build into a
    set-at-a-time computation."""
    import hashlib as _h
    ids = sorted(r["doc_id"] for r in
                 _t(spark, sf_dir, "documents")
                 .filter(F.col("doc_id") < 512)
                 .select("doc_id").collect())
    prio = {k: int(_h.md5(f"tp:{k}".encode()).hexdigest()[:15], 16)
            for k in ids}

    class _N:
        __slots__ = ("k", "l", "r", "p")

        def __init__(self, k):
            self.k, self.l, self.r, self.p = k, None, None, None

    root = None

    def rot(n):
        p = n.p
        g = p.p
        if p.l is n:
            p.l, n.r, = n.r, p
            if p.l:
                p.l.p = p
        else:
            p.r, n.l = n.l, p
            if p.r:
                p.r.p = p
        n.p, p.p = g, n
        if g:
            if g.l is p:
                g.l = n
            else:
                g.r = n
        return n

    for k in ids:
        node = _N(k)
        if root is None:
            root = node
            continue
        cur = root
        while True:
            if k < cur.k:
                if cur.l is None:
                    cur.l = node
                    node.p = cur
                    break
                cur = cur.l
            else:
                if cur.r is None:
                    cur.r = node
                    node.p = cur
                    break
                cur = cur.r
        while node.p is not None and prio[node.k] < prio[node.p.k]:
            node = rot(node)
        if node.p is None:
            root = node
    out = []
    stack = [root]
    nodes = []
    while stack:
        n = stack.pop()
        nodes.append(n)
        if n.l:
            stack.append(n.l)
        if n.r:
            stack.append(n.r)
    for n in sorted(nodes, key=lambda x: x.k):
        pk = n.p.k if n.p else -1
        side = "root" if n.p is None else ("L" if n.p.l is n else "R")
        heap_ok = n.p is None or prio[n.p.k] < prio[n.k]
        bst_ok = n.p is None or (side == "L" and n.k < pk) \
            or (side == "R" and n.k > pk)
        out.append((n.k, prio[n.k], pk, side, heap_ok, bst_ok))
    from collections import Counter
    sib = Counter((pk, sd) for _, _, pk, sd, _, _ in out if pk != -1)
    nroots = sum(1 for r in out if r[2] == -1)
    rows = [(k, p, pk, sd, h, b,
             1 if pk == -1 else sib[(pk, sd)],
             pk == -1 or sib[(pk, sd)] == 1, nroots)
            for k, p, pk, sd, h, b in out]
    return spark.createDataFrame(
        rows, "key long, prio long, parent_key long, side string,"
              " heap_ok boolean, bst_ok boolean, siblings int,"
              " unique_child_ok boolean, n_roots int")


_TWOSAT_SQL = """
WITH RECURSIVE vocab AS (
  SELECT word, row_number() OVER (ORDER BY cnt DESC, word) - 1 AS v
  FROM (SELECT word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY word)
  QUALIFY v < 12
), cl AS (
  SELECT d.doc_id AS cid,
         CAST(concat('0x', substr(md5('2sa:' ||
           CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 12 AS a,
         (CAST(concat('0x', substr(md5('2sa:' ||
            CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 12
          + 1 + CAST(concat('0x', substr(md5('2sb:' ||
            CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 11) % 12
           AS b,
         d.text
  FROM documents d WHERE d.doc_id < 20
), lits AS (
  SELECT c.cid, c.a, c.b,
         CASE WHEN position(' ' || va.word || ' '
              IN ' ' || c.text || ' ') > 0 THEN 1 ELSE 0 END AS pa,
         CASE WHEN position(' ' || vb.word || ' '
              IN ' ' || c.text || ' ') > 0 THEN 1 ELSE 0 END AS pb
  FROM cl c JOIN vocab va ON va.v = c.a JOIN vocab vb ON vb.v = c.b
), edges AS (
  -- literal node id: 2*var + (1 if positive else 0 for the NEGATION?)
  -- node(l) = 2*v + pol (pol 1 = positive literal x_v)
  -- clause (l1 or l2): not-l1 -> l2 and not-l2 -> l1
  SELECT 2 * a + (1 - pa) AS u, 2 * b + pb AS w FROM lits
  UNION
  SELECT 2 * b + (1 - pb), 2 * a + pa FROM lits
), reach AS (
  SELECT u, w FROM edges
  UNION
  SELECT r.u, e.w FROM reach r JOIN edges e ON e.u = r.w
), reach2 AS (
  SELECT u, w FROM reach
  UNION
  SELECT CAST(n AS BIGINT), CAST(n AS BIGINT)
  FROM (SELECT unnest(range(0, 24)) AS n)
), comp AS (
  SELECT a.u AS node, min(a.w) AS c
  FROM reach2 a JOIN reach2 b ON b.u = a.w AND b.w = a.u
  GROUP BY a.u
), rc AS (
  SELECT c.c AS comp, count(DISTINCT c2.c) AS rcount
  FROM comp c
  JOIN reach2 r ON r.u = c.node
  JOIN comp c2 ON c2.node = r.w
  GROUP BY c.c
), topo AS (
  SELECT comp, row_number() OVER (ORDER BY rcount DESC, comp) AS pos
  FROM rc
), assign AS (
  SELECT v.v, v.word,
         tp.pos > tn.pos AS val,
         cp.c = cn.c AS contradiction
  FROM vocab v
  JOIN comp cp ON cp.node = 2 * v.v + 1
  JOIN comp cn ON cn.node = 2 * v.v
  JOIN topo tp ON tp.comp = cp.c
  JOIN topo tn ON tn.comp = cn.c
), satq AS (
  SELECT NOT bool_or(contradiction) AS satisfiable FROM assign
), astr AS (
  SELECT string_agg('x' || CAST(v AS VARCHAR) || '='
                    || CASE WHEN val THEN 'T' ELSE 'F' END, ','
                    ORDER BY v) AS assignment
  FROM assign
), chk AS (
  SELECT l.cid, l.a, l.b, l.pa, l.pb,
         (CASE WHEN l.pa = 1 THEN aa.val ELSE NOT aa.val END)
         OR (CASE WHEN l.pb = 1 THEN ab.val ELSE NOT ab.val END)
           AS clause_sat
  FROM lits l
  JOIN assign aa ON aa.v = l.a
  JOIN assign ab ON ab.v = l.b
)
SELECT CAST(c.cid AS INTEGER) AS clause_id,
       CAST(c.a AS INTEGER) AS var_a, CAST(c.pa AS INTEGER) AS pol_a,
       CAST(c.b AS INTEGER) AS var_b, CAST(c.pb AS INTEGER) AS pol_b,
       c.clause_sat,
       (SELECT satisfiable FROM satq) AS satisfiable,
       NOT (SELECT satisfiable FROM satq) OR c.clause_sat
         AS certificate_ok,
       (SELECT assignment FROM astr) AS assignment,
       CAST((SELECT count(DISTINCT comp) FROM topo) AS INTEGER)
         AS n_components
FROM chk c
"""


@register("kg_2sat_implication", _TWOSAT_SQL)
def kg_2sat_implication(spark, sf_dir):
    """2-SAT solved by the implication-graph SCC method
    (Aspvall-Plass-Tarjan) over DATA-DERIVED clauses: variables are the
    12 most frequent corpus words, and each of the first 20 documents
    contributes one clause whose two md5-chosen variables take the
    polarity of the word's actual presence in that document. Each
    clause (l1 ∨ l2) plants the two implications ¬l1→l2, ¬l2→l1;
    strongly connected components come from pairwise reachability
    (transitive closure as a recursive join — 24 nodes, the bounded
    condensation of the lexicon family); a variable sharing a component
    with its negation certifies UNSAT, otherwise the classic rule —
    x is true iff comp(x) sits LATER than comp(¬x) in a topological
    order (reach-count descending is provably topo-consistent since
    A→B forces a strictly larger reachable set) — produces an
    assignment whose validity is PINNED per clause: certificate_ok
    demands every clause evaluate true under the produced assignment
    whenever satisfiable (the solver cannot bluff — its output is
    checked against the formula itself). Engine: bounded driver mirror
    — the 24-node closure is planner-scale metadata; the corpus-scale
    stages are the vocabulary count and the per-document polarity
    probes."""
    docs = _t(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.col("w") != "")
             .groupBy("w").count().orderBy(F.desc("count"), "w")
             .limit(12).collect())
    vocab = {i: r["w"] for i, r in enumerate(words)}
    import hashlib as _h

    def h60(s):
        return int(_h.md5(s.encode()).hexdigest()[:15], 16)
    drows = (docs.filter(F.col("doc_id") < 20)
             .select("doc_id", "text").collect())
    clauses = []
    for r in sorted(drows, key=lambda r: r["doc_id"]):
        d = int(r["doc_id"])
        a = h60(f"2sa:{d}") % 12
        b = (a + 1 + h60(f"2sb:{d}") % 11) % 12
        txt = f" {r['text']} "
        pa = 1 if f" {vocab[a]} " in txt else 0
        pb = 1 if f" {vocab[b]} " in txt else 0
        clauses.append((d, a, pa, b, pb))
    edges = set()
    for _, a, pa, b, pb in clauses:
        edges.add((2 * a + (1 - pa), 2 * b + pb))
        edges.add((2 * b + (1 - pb), 2 * a + pa))
    reach = {(n, n) for n in range(24)} | set(edges)
    while True:
        new = reach | {(u, w2) for (u, w) in reach
                       for (w1, w2) in edges if w1 == w}
        if new == reach:
            break
        reach = new
    comp = {n: min(w for w in range(24)
                   if (n, w) in reach and (w, n) in reach)
            for n in range(24)}
    comps = sorted(set(comp.values()))
    rcount = {c: len({comp[w] for n in range(24) if comp[n] == c
                      for (u, w) in reach if u == n})
              for c in comps}
    pos = {c: i + 1 for i, c in enumerate(
        sorted(comps, key=lambda c: (-rcount[c], c)))}
    contradiction = any(comp[2 * v] == comp[2 * v + 1]
                        for v in range(12))
    satisfiable = not contradiction
    val = {v: pos[comp[2 * v + 1]] > pos[comp[2 * v]]
           for v in range(12)}
    astr = ",".join(f"x{v}=" + ("T" if val[v] else "F")
                    for v in range(12))
    rows = []
    for cid, a, pa, b, pb in clauses:
        sat = (val[a] if pa else not val[a]) or \
              (val[b] if pb else not val[b])
        rows.append((cid, a, pa, b, pb, sat, satisfiable,
                     (not satisfiable) or sat, astr, len(comps)))
    return spark.createDataFrame(
        rows, "clause_id int, var_a int, pol_a int, var_b int,"
              " pol_b int, clause_sat boolean, satisfiable boolean,"
              " certificate_ok boolean, assignment string,"
              " n_components int")


# Chinese-remainder checksum constants: three 16-bit primes, their
# cofactors M_j = M/p_j and Bezout inverses y_j = M_j^{-1} mod p_j
# (extended Euclid, verified in-query by the inverse_ok pin).
_CRT_M = 281170132523303  # 65521 * 65519 * 65497
_CRT_ROWS = [(65521, 4291297943, 64156),
             (65519, 4291428937, 22336),
             (65497, 4292870399, 44533)]

_CRT_SQL = """
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
), tot AS (
  SELECT sum(c) AS s, count(*) AS n FROM cents
), pr AS (
  SELECT * FROM (VALUES (65521, 4291297943, 64156),
                        (65519, 4291428937, 22336),
                        (65497, 4292870399, 44533)) AS t(p, mj, yj)
), res AS (
  SELECT p, mj, yj, sum(c % p) % p AS r
  FROM pr CROSS JOIN cents GROUP BY p, mj, yj
), rec AS (
  SELECT sum(((r * yj) % p) * mj) % 281170132523303 AS s_crt FROM res
)
SELECT CAST(p AS INTEGER) AS prime,
       CAST(r AS BIGINT) AS residue,
       CAST(mj AS BIGINT) AS m_j,
       CAST(yj AS INTEGER) AS y_j,
       (mj % p) * yj % p = 1 AS inverse_ok,
       CAST(((r * yj) % p) * mj AS BIGINT) AS term,
       CAST((SELECT s_crt FROM rec) AS BIGINT) AS s_crt,
       CAST((SELECT s FROM tot) AS BIGINT) AS s_direct,
       (SELECT s_crt FROM rec) = (SELECT s FROM tot) AS crt_ok,
       (SELECT s FROM tot) < 281170132523303 AS fits_modulus,
       CAST((SELECT n FROM tot) AS BIGINT) AS n_orders
FROM res
"""


@register("q_orders_crt_checksum", _CRT_SQL)
def q_orders_crt_checksum(spark, sf_dir):
    """Residue-number-system aggregation by the Chinese Remainder
    Theorem: the exact corpus-wide sum of order prices in cents is
    computed three times as residues mod three coprime 16-bit primes —
    sum(c mod p) mod p, a per-partition-safe fold whose intermediate
    values stay below 2⁶³ at ANY corpus scale (the per-row addend is
    < 2¹⁶, so even 10¹⁴ rows cannot overflow a long where the direct
    cents sum eventually would under ANSI mode) — and then reconstructed
    exactly by Garner-free CRT recombination S = Σ ((r_j·y_j) mod p_j)
    · M_j mod M, kept inside int64 by reducing r_j·y_j modulo p_j
    BEFORE the cofactor multiply (each term ≤ p_j·M_j = M ≈ 2.8·10¹⁴).
    The Bezout inverses are extended-Euclid constants verified in-query
    ((M_j mod p_j)·y_j ≡ 1, inverse_ok), the reconstruction is pinned
    equal to the directly computed sum (crt_ok — CRT uniqueness on
    [0, M)), and the applicability premise S < M is pinned
    (fits_modulus). Three residue aggregates over a broadcast prime
    table — one map-side pass, no shuffle beyond the 3-row combine."""
    cents = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    tot = cents.agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("n"))
    pr = spark.createDataFrame(_CRT_ROWS, "p long, mj long, yj long")
    res = (cents.crossJoin(F.broadcast(pr))
           .groupBy("p", "mj", "yj")
           .agg((F.sum(F.col("c") % F.col("p")) % F.col("p"))
                .alias("r")))
    rec = res.agg((F.sum(F.expr("((r * yj) % p) * mj"))
                   % F.lit(_CRT_M)).alias("s_crt"))
    return (res.crossJoin(F.broadcast(rec)).crossJoin(F.broadcast(tot))
            .select(F.col("p").cast("int").alias("prime"),
                    F.col("r").cast("long").alias("residue"),
                    F.col("mj").cast("long").alias("m_j"),
                    F.col("yj").cast("int").alias("y_j"),
                    (F.expr("(mj % p) * yj % p") == 1)
                    .alias("inverse_ok"),
                    F.expr("((r * yj) % p) * mj").cast("long")
                    .alias("term"),
                    F.col("s_crt").cast("long").alias("s_crt"),
                    F.col("s").cast("long").alias("s_direct"),
                    (F.col("s_crt") == F.col("s")).alias("crt_ok"),
                    (F.col("s") < F.lit(_CRT_M)).alias("fits_modulus"),
                    F.col("n").cast("long").alias("n_orders")))


_YANNAKAKIS_SQL = """
WITH c0 AS (
  SELECT c_custkey FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
), o0 AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus <> 'P'
), l0 AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_quantity >= 25
), o1 AS (  -- bottom-up: O := O semijoin L
  SELECT * FROM o0 WHERE EXISTS
    (SELECT 1 FROM l0 WHERE l0.l_orderkey = o0.o_orderkey)
), c1 AS (  -- bottom-up: C := C semijoin O
  SELECT * FROM c0 WHERE EXISTS
    (SELECT 1 FROM o1 WHERE o1.o_custkey = c0.c_custkey)
), o2 AS (  -- top-down: O := O semijoin C
  SELECT * FROM o1 WHERE EXISTS
    (SELECT 1 FROM c1 WHERE c1.c_custkey = o1.o_custkey)
), l1 AS (  -- top-down: L := L semijoin O
  SELECT * FROM l0 WHERE EXISTS
    (SELECT 1 FROM o2 WHERE o2.o_orderkey = l0.l_orderkey)
), jfull AS (
  SELECT c0.c_custkey, o0.o_orderkey, l0.l_linenumber, l0.cents
  FROM c0 JOIN o0 ON o0.o_custkey = c0.c_custkey
          JOIN l0 ON l0.l_orderkey = o0.o_orderkey
), jred AS (
  SELECT c1.c_custkey, o2.o_orderkey, l1.l_linenumber, l1.cents
  FROM c1 JOIN o2 ON o2.o_custkey = c1.c_custkey
          JOIN l1 ON l1.l_orderkey = o2.o_orderkey
), stats AS (
  -- participation is a semi-join count (NOT a distinct count in the
  -- join: (l_orderkey, l_linenumber) is not unique in the synthetic
  -- lineitem, so key-collision would undercount)
  SELECT 'customer' AS relation,
         (SELECT count(*) FROM c0) AS rows_filtered,
         (SELECT count(*) FROM c1) AS rows_reduced,
         (SELECT count(*) FROM c1 WHERE EXISTS
            (SELECT 1 FROM jred j WHERE j.c_custkey = c1.c_custkey))
           AS participants
  UNION ALL
  SELECT 'orders',
         (SELECT count(*) FROM o0), (SELECT count(*) FROM o2),
         (SELECT count(*) FROM o2 WHERE EXISTS
            (SELECT 1 FROM jred j WHERE j.o_orderkey = o2.o_orderkey))
  UNION ALL
  SELECT 'lineitem',
         (SELECT count(*) FROM l0), (SELECT count(*) FROM l1),
         (SELECT count(*) FROM l1 WHERE EXISTS
            (SELECT 1 FROM jred j WHERE j.o_orderkey = l1.l_orderkey
               AND j.l_linenumber = l1.l_linenumber))
), jt AS (
  SELECT (SELECT count(*) FROM jfull) AS jf,
         (SELECT count(*) FROM jred) AS jr,
         (SELECT coalesce(sum(cents), 0) FROM jfull) AS sf,
         (SELECT coalesce(sum(cents), 0) FROM jred) AS sr
)
SELECT relation,
       CAST(rows_filtered AS BIGINT) AS rows_filtered,
       CAST(rows_reduced AS BIGINT) AS rows_reduced,
       CAST(rows_filtered - rows_reduced AS BIGINT) AS dangling_removed,
       participants = rows_reduced AS all_participate,
       CAST(jt.jf AS BIGINT) AS join_rows,
       jt.jf = jt.jr AS join_preserved,
       CAST(jt.sf AS BIGINT) AS join_cents,
       jt.sf = jt.sr AS cents_preserved
FROM stats CROSS JOIN jt
"""


@register("q_yannakakis_reduction", _YANNAKAKIS_SQL)
def q_yannakakis_reduction(spark, sf_dir):
    """Yannakakis full-reducer over the acyclic customer—orders—lineitem
    chain (the 1981 algorithm behind every modern acyclic-join
    optimizer): base relations are first filtered (BUILDING customers
    with positive balance, non-'P' orders, quantity ≥ 25 lineitems) so
    real dangling tuples exist at every level, then one bottom-up
    semi-join sweep (O ⋉ L, C ⋉ O) and one top-down sweep (O ⋉ C,
    L ⋉ O) reduce each relation. The theorem the pass exists for is
    pinned per relation: after the two sweeps EVERY surviving tuple
    participates in the full join (all_participate — distinct join keys
    equal the reduced cardinality), and the reduction is lossless —
    join row count and the exact cents total computed from reduced
    relations equal the unreduced join's (join_preserved,
    cents_preserved). The semi-joins are broadcast/shuffle left-semi
    joins that never materialize the join; at 100 TB this is exactly
    the pass that keeps an acyclic multiway join linear instead of
    paying intermediate blow-up."""
    c0 = (_t(spark, sf_dir, "customer")
          .filter((F.col("c_mktsegment") == "BUILDING")
                  & (F.col("c_acctbal") > 0))
          .select("c_custkey"))
    o0 = (_t(spark, sf_dir, "orders")
          .filter(F.col("o_orderstatus") != "P")
          .select("o_orderkey", "o_custkey"))
    l0 = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_quantity") >= 25)
          .select("l_orderkey", "l_linenumber",
                  F.round(F.col("l_extendedprice") * 100).cast("long")
                  .alias("cents")))
    def _semi(left, lkey, right, rkey):
        # rename the probe key: a fresh attribute id keeps Spark's
        # ambiguous-self-join detector out of the shared-lineage chain
        keys = right.select(F.col(rkey).alias("__k")).distinct()
        return left.join(keys, F.col(lkey) == F.col("__k"),
                         "left_semi")

    o1 = _semi(o0, "o_orderkey", l0, "l_orderkey")
    c1 = _semi(c0, "c_custkey", o1, "o_custkey")
    o2 = _semi(o1, "o_custkey", c1, "c_custkey")
    l1 = _semi(l0, "l_orderkey", o2, "o_orderkey")

    def _chain(c, o, l):
        return (c.alias("c")
                .join(o.alias("o"),
                      F.col("c.c_custkey") == F.col("o.o_custkey"))
                .join(l.alias("l"),
                      F.col("o.o_orderkey") == F.col("l.l_orderkey"))
                .select(F.col("c.c_custkey").alias("c_custkey"),
                        F.col("o.o_orderkey").alias("o_orderkey"),
                        F.col("l.l_linenumber").alias("l_linenumber"),
                        F.col("l.cents").alias("cents")))

    jfull = _chain(c0, o0, l0)
    jred = _chain(c1, o2, l1)
    jred = jred.persist()

    # participation is a semi-join count (NOT a distinct count in the
    # join: (l_orderkey, l_linenumber) is not unique in the synthetic
    # lineitem, so key-collision would undercount)
    def _participants(red, keys):
        probe = jred.select(*[F.col(k).alias(f"__{k}") for k in keys]) \
            .distinct()
        cond = None
        for k in keys:
            eq = F.col(k) == F.col(f"__{k}")
            cond = eq if cond is None else cond & eq
        return red.join(probe, cond, "left_semi").agg(
            F.count(F.lit(1)).alias("participants"))

    stats = []
    for rel, base, red, pk in [
            ("customer", c0, c1, ["c_custkey"]),
            ("orders", o0, o2, ["o_orderkey"]),
            ("lineitem", l0, l1, ["l_orderkey", "l_linenumber"])]:
        red_keys = red
        if rel == "lineitem":
            # jred's lineitem key columns are (o_orderkey, l_linenumber)
            red_keys = red.select(
                F.col("l_orderkey").alias("o_orderkey"), "l_linenumber")
            pk = ["o_orderkey", "l_linenumber"]
        stats.append(spark.createDataFrame(
            [(rel,)], "relation string")
            .crossJoin(F.broadcast(base.agg(
                F.count(F.lit(1)).alias("rows_filtered"))))
            .crossJoin(F.broadcast(red.agg(
                F.count(F.lit(1)).alias("rows_reduced"))))
            .crossJoin(F.broadcast(_participants(red_keys, pk))))
    st = stats[0].unionByName(stats[1]).unionByName(stats[2])
    jt = (jfull.agg(F.count(F.lit(1)).alias("jf"),
                    F.coalesce(F.sum("cents"), F.lit(0)).alias("sf"))
          .crossJoin(jred.agg(
              F.count(F.lit(1)).alias("jr"),
              F.coalesce(F.sum("cents"), F.lit(0)).alias("sr"))))
    return (st.crossJoin(F.broadcast(jt))
            .select("relation",
                    F.col("rows_filtered").cast("long"),
                    F.col("rows_reduced").cast("long"),
                    (F.col("rows_filtered") - F.col("rows_reduced"))
                    .cast("long").alias("dangling_removed"),
                    (F.col("participants") == F.col("rows_reduced"))
                    .alias("all_participate"),
                    F.col("jf").cast("long").alias("join_rows"),
                    (F.col("jf") == F.col("jr")).alias("join_preserved"),
                    F.col("sf").cast("long").alias("join_cents"),
                    (F.col("sf") == F.col("sr"))
                    .alias("cents_preserved")))

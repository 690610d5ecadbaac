"""Relational query pack — SURVEY §2.1-§2.8 inventory, one named query per
row, re-targeted from the reference's HR warehouse onto the driver's TPC-H
style tables per FIXTURES.md §5 (t3_emp_feature→lineitem,
t1_emp_trng→orders, 2-col lookup dims→customer/nation, log export→events).

Each query is the *operator under test* wrapped in the thinnest possible
binding; reference file:line cites sit on the operator helpers in
``operators/`` and ``functions/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import memo
from .catalog import load_table
from .functions.scalar import (
    case_like_normalize,
    listagg_distinct,
    listagg_ordered,
    nvl,
    rebuild_timestamp,
    scrub_to_null,
    to_char_yyyymmdd,
)
from .operators.aggregations import assemble_vector, distinct_sorted, grouped_pivot, last_wins_merge
from .operators.joins import (
    BROADCAST_GATE_BYTES,
    anti_join,
    asof_join,
    broadcast_if_small,
    broadcast_lookup_join,
    input_bytes,
    left_join_chain,
    semi_join,
)
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship — SURVEY §3.3 serving-index build (Elastic_indexing.py:103-166):
# fact + 3 left joins + listagg(distinct) branches + UNION ALL merge + nvl
# defaults + to_char date key, in ONE distributed pipeline.
# ---------------------------------------------------------------------------

FLAGSHIP_ORACLE = """
WITH t_y AS (
    SELECT o_custkey AS cust_key,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prio_open,
           '' AS prio_closed
    FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
), t_f AS (
    SELECT o_custkey AS cust_key,
           '' AS prio_open,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prio_closed
    FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
), t AS (
    SELECT cust_key, max(prio_open) AS prio_open, max(prio_closed) AS prio_closed
    FROM (SELECT * FROM t_y UNION ALL SELECT * FROM t_f) u GROUP BY cust_key
)
SELECT concat(l.l_orderkey, '-', l.l_linenumber) AS dre_cd,
       strftime(l.l_shipdate, '%Y%m%d')          AS ship_dt,
       coalesce(c.c_mktsegment, '')              AS segment,
       coalesce(t.prio_open, '')                 AS prio_open,
       coalesce(t.prio_closed, '')               AS prio_closed,
       round(l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax), 2) AS score,
       l.l_quantity                              AS qty
FROM lineitem l
LEFT JOIN orders o   ON l.l_orderkey = o.o_orderkey
LEFT JOIN t          ON o.o_custkey = t.cust_key
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


@query("flagship_serving_index", FLAGSHIP_ORACLE)
def flagship_serving_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 end-to-end slice. Scale shape: lineitem⋈orders is the only
    fact-fact shuffle (bucketing both on orderkey makes it co-located);
    the aggregated priority table and the customer 2-col projection are
    broadcast — the fact crosses the network at most once.

    The broadcast hints are SIZE-GATED (same policy as
    minhash_near_dedup's verify_join="auto"): customer and the
    per-customer rollup grow with the corpus, so past the gate the
    hints drop and AQE picks the join from runtime sizes. Measured at
    the 300× synthetic (SCALE §6b-r7): forcing the two 4.5 M-row
    broadcasts ran 93–115 s vs 42–90 s letting AQE decide — the wide
    aggregated-string rows blow up ~10× from parquet to the in-memory
    broadcast relation, which is why the gate is 16 MB of parquet
    rather than the session's 64 MB plan threshold. Under the gate the
    hints apply at oracle/bench SFs (plan asserted in test_plans)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # customer bytes bound the cardinality of BOTH broadcast sides (the
    # rollup has ≤ one row per custkey); the projected frame resolves to
    # the same input files, so no second table load is needed
    cbytes = input_bytes(customer)
    dims_small = cbytes is not None and cbytes <= BROADCAST_GATE_BYTES

    # The reference (and the oracle SQL) computes two per-status group-bys
    # glued with UNION ALL and re-aggregated (Elastic_indexing.py:133-147).
    # Idiomatic Spark collapses that to ONE conditional aggregation — same
    # result, half the orders scans, one shuffle instead of three.
    def prio(status: str) -> F.Column:
        only = F.when(F.col("o_orderstatus") == status, F.col("o_orderpriority"))
        return F.array_join(F.array_sort(F.collect_set(only)), ",")

    t = (
        orders.filter(F.col("o_orderstatus").isin("O", "F"))
        .groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(prio("O").alias("prio_open"), prio("F").alias("prio_closed"))
    )

    joined = left_join_chain(
        lineitem,
        [
            (orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"), False),
            (t, F.col("o_custkey") == F.col("cust_key"), dims_small),
            (customer, F.col("o_custkey") == F.col("c_custkey"), dims_small),
        ],
    )
    return joined.select(
        F.concat(F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("dre_cd"),
        to_char_yyyymmdd("l_shipdate").alias("ship_dt"),
        nvl("c_mktsegment", "").alias("segment"),
        nvl("prio_open", "").alias("prio_open"),
        nvl("prio_closed", "").alias("prio_closed"),
        # round(x*100)/100 mirrors DuckDB's double rounding bit-for-bit on
        # per-row money math (plain F.round can differ by a cent at .005
        # boundaries — BigDecimal HALF_UP vs scaled std::round).
        (
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100)
            / 100
        ).alias("score"),
        F.col("l_quantity").alias("qty"),
    )


# ---------------------------------------------------------------------------
# §2.2 Projections / filters
# ---------------------------------------------------------------------------


@query(
    "p1_projection_alias",
    """SELECT o_orderkey AS order_id, o_custkey AS cust_id, o_orderstatus AS status,
              round(o_totalprice, 2) AS total
       FROM orders""",
)
def p1_projection_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — aliased column projection (Elastic_indexing.py:108-130 selects
    23 aliased columns). Column pruning reaches the parquet scan."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 2).alias("total"),
    )


@query(
    "p2_literal_plus_star",
    "SELECT '20240101' AS bkup_dt, * FROM region",
)
def p2_literal_plus_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — ``select '{date}' as bkup_dt, *`` (BkupRs.py:234-239)."""
    return _t(spark, sf_dir, "region").select(F.lit("20240101").alias("bkup_dt"), "*")


@query(
    "p4_computed_interval_column",
    """SELECT event_id, ts, ts + INTERVAL 9 HOUR AS kst_ts FROM events""",
)
def p4_computed_interval_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/F11 — withColumn with INTERVAL arithmetic (AWS_GLUE_ETL.py:119
    ``current_timestamp()+INTERVAL 9 HOURS``; anchored on the event ts so
    the result is deterministic)."""
    return (
        _t(spark, sf_dir, "events")
        .withColumn("kst_ts", F.col("ts") + F.expr("INTERVAL 9 HOURS"))
        .select("event_id", "ts", "kst_ts")
    )


@query(
    "p5_rename_drop",
    """SELECT c_custkey AS KYWR_CUST_NO, c_name, c_nationkey FROM customer""",
)
def p5_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — withColumnRenamed + drop (Keyword.py:239, BkupRs.py:138)."""
    return (
        _t(spark, sf_dir, "customer")
        .withColumnRenamed("c_custkey", "KYWR_CUST_NO")
        .drop("c_acctbal", "c_mktsegment")
    )


@query(
    "p6_like_filter",
    """SELECT p_partkey, p_type FROM part WHERE p_type LIKE '%ECONOMY%'""",
)
def p6_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — LIKE predicate (Keyword.py:161-162 ``ath_role_cd like
    '%R04%'``). String-contains predicates stay in the codegen'd filter;
    parquet row-group stats can't prune LIKE, so selectivity comes from
    column pruning. Pattern chosen to select real rows in the synthetic
    p_type domain (ECONOMY/STANDARD/…) — a 0-row pass verifies nothing."""
    return _t(spark, sf_dir, "part").filter(F.col("p_type").like("%ECONOMY%")).select(
        "p_partkey", "p_type"
    )


@query(
    "p7_date_string_filter",
    """SELECT o_orderkey, strftime(o_orderdate, '%Y%m%d') AS od
       FROM orders WHERE strftime(o_orderdate, '%Y%m%d') >= '20010101'""",
)
def p7_date_string_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — date-as-string predicate (BkupRs.py:238). SURVEY §4 notes the
    reference's to_char filter defeats partition pruning; kept here for
    parity, while ``p8`` shows the prunable form."""
    df = _t(spark, sf_dir, "orders")
    od = to_char_yyyymmdd("o_orderdate")
    return df.filter(od >= "20010101").select("o_orderkey", od.alias("od"))


@query(
    "p8_retention_cutoff_filter",
    """SELECT o_orderkey, o_orderdate FROM orders
       WHERE o_orderdate < TIMESTAMP '2001-08-01' - INTERVAL 90 DAY""",
)
def p8_retention_cutoff_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — retention cutoff: rows older than (anchor − N days)
    (BkupRs.py:246). Native timestamp comparison → parquet min/max pruning
    works, unlike the reference's string compare."""
    cutoff = F.expr("TIMESTAMP '2001-08-01' - INTERVAL 90 DAYS")
    return _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_orderdate"
    )


@query(
    "p9_boolean_compound_filter",
    """SELECT event_id, event_type, value FROM events
       WHERE event_type IN ('click','view') AND value > 50.0
         AND NOT (user_id = 0)""",
)
def p9_boolean_compound_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — ES bool must/must_not compound (log_screen.py:136-162) as one
    conjunctive filter; all three conjuncts reach PushedFilters."""
    return (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "view")
            & (F.col("value") > 50.0)
            & ~(F.col("user_id") == 0)
        )
        .select("event_id", "event_type", "value")
    )


@query(
    "p10_value_scrub",
    """SELECT event_id,
              CASE WHEN event_type IN ('error', '') THEN NULL ELSE event_type END AS event_type_clean
       FROM events""",
)
def p10_value_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 — sentinel→NULL scrub (log_screen.py:186-198 maps '-' to NULL)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        scrub_to_null("event_type", "error", "").alias("event_type_clean"),
    )


@query(
    "p11_fulltext_search",
    """SELECT doc_id,
              CAST((CASE WHEN regexp_matches(lower(text), '\\bspark\\b')  THEN 1 ELSE 0 END
                  + CASE WHEN regexp_matches(lower(text), '\\bvector\\b') THEN 1 ELSE 0 END
                  + CASE WHEN regexp_matches(lower(text), '\\bstream\\b') THEN 1 ELSE 0 END) AS BIGINT)
                AS n_terms
       FROM documents
       WHERE regexp_matches(lower(text), '\\b(spark|vector|stream)\\b')""",
)
def p11_fulltext_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — the ES query_string full-text search
    (openai_elasticsearch.py:160-170) as tokenized rlike matching with a
    match-count relevance score. Per-row regex — scales with splits."""
    text = F.lower(F.col("text"))
    terms = ["spark", "vector", "stream"]
    hits = [text.rlike(rf"\b{t}\b").cast("long") for t in terms]
    n_terms = hits[0]
    for h in hits[1:]:
        n_terms = n_terms + h
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("n_terms", n_terms)
        .filter(F.col("n_terms") > 0)
        .select("doc_id", "n_terms")
    )


@query(
    "p12_concat_projection",
    """SELECT c_custkey, concat_ws(', ', c_name, c_mktsegment) AS address_line FROM customer""",
)
def p12_concat_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 — ABAP per-row CONCATENATE (ETL.abap:14-24) as a vectorized
    concat_ws projection — the row loop disappears."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey", F.concat_ws(", ", "c_name", "c_mktsegment").alias("address_line")
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@query(
    "j2_inner_join_filter",
    """SELECT DISTINCT c.c_custkey, c.c_name
       FROM customer c INNER JOIN nation n ON c.c_nationkey = n.n_nationkey
       WHERE n.n_name LIKE '%1%'""",
)
def j2_inner_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — inner equi-join + LIKE filter + distinct (Keyword.py:156-163).
    Pattern matches NATION_1/_10…_19/_21 in the synthetic domain so the
    check compares real rows."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").like("%1%"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .select("c_custkey", "c_name")
        .distinct()
    )


@query(
    "j3_semi_join",
    """SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders o
       WHERE EXISTS (SELECT 1 FROM customer c
                     WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')""",
)
def j3_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — membership-only join as left_semi (Keyword.py:175-181; SURVEY
    flags the idiomatic upgrade). Right side reduced to the key column
    before the broadcast."""
    o = _t(spark, sf_dir, "orders")
    members = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return semi_join(o, broadcast_if_small(members), F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )


@query(
    "j4_broadcast_lookup_join",
    """SELECT s.s_suppkey, s.s_name, n.n_name, r.r_name
       FROM supplier s
       LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
       LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""",
)
def j4_broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — the per-row client-side index lookup
    (openai_elasticsearch.py:224-292) as broadcast hash joins."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        broadcast_lookup_join(s, n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"), "left")
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


@query(
    "j5_anti_join",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""",
)
def j5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] anti join — customers with no *finished*
    orders. The status filter exists so the anti side is non-empty on the
    synthetic data (every customer has ≥1 order overall; ~71 lack an 'F'
    one at sf0.01) — an all-matched anti join passes vacuously."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
    )
    return anti_join(c, o, F.col("c_custkey") == F.col("o_custkey")).select("c_custkey", "c_name")


@query(
    "j6_asof_join",
    # explicit LATERAL argmax, not DuckDB's ASOF JOIN: ASOF leaves the
    # pick among equal (user_id, r_ts) purchase rows engine-arbitrary,
    # while asof_join's r11 tie-break is deterministic (greatest payload
    # struct = ORDER BY r_ts DESC, r_value DESC here) — the twin must
    # pin the same rule or the row goes hash-flaky the first time a
    # regenerated fixture plants two same-user purchases at one ts
    # (end-of-round review; no such tie exists at the current SFs).
    """SELECT e.event_id, e.user_id, e.ts, p.r_ts, p.r_value
       FROM (SELECT * FROM events WHERE event_type = 'click') e
       LEFT JOIN LATERAL (
         SELECT ts AS r_ts, value AS r_value
         FROM events p
         WHERE p.event_type = 'purchase'
           AND p.user_id = e.user_id AND p.ts <= e.ts
         ORDER BY p.ts DESC, p.value DESC LIMIT 1
       ) p ON TRUE""",
)
def j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] as-of join: for each click, the latest
    purchase by the same user at-or-before the click (operators/joins.py
    asof_join: range join + window top-1, one shuffle on user_id).
    Ties on (user_id, purchase ts) break on the payload struct —
    deterministic in BOTH engines by construction."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    out = asof_join(clicks, purchases, key="user_id", left_ts="ts", right_ts="p_ts")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("r_p_ts").alias("r_ts"),
        F.col("r_p_value").alias("r_value"),
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@query(
    "a1_listagg_distinct",
    """SELECT o_custkey AS cust_key,
              string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prio_list
       FROM orders GROUP BY o_custkey""",
)
def a1_listagg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — listagg(distinct) (Elastic_indexing.py:135,144), canonical
    sorted form. Partial collect_set keeps the shuffle small."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(listagg_distinct("o_orderpriority").alias("prio_list"))
    )


@query(
    "a2_collect_list_sorted",
    """SELECT o_custkey AS cust_key, string_agg(status_date, ', ' ORDER BY status_date) AS history
       FROM (SELECT o_custkey, concat(o_orderstatus, ':', strftime(o_orderdate, '%Y%m%d')) AS status_date
             FROM orders) t
       GROUP BY o_custkey""",
)
def a2_collect_list_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — ordered collect_list + array_join (Keyword.py:178)."""
    df = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.concat(F.col("o_orderstatus"), F.lit(":"), to_char_yyyymmdd("o_orderdate")).alias(
            "status_date"
        ),
    )
    return df.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        listagg_ordered("status_date").alias("history")
    )


@query("a3_distinct_projection", "SELECT DISTINCT c_mktsegment FROM customer")
def a3_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — distinct projection (Keyword.py:157)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "a4_count_audit",
    "SELECT CAST(count(*) AS BIGINT) AS cretn_cnt FROM lineitem",
)
def a4_count_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — the post-write audit count (AWS_GLUE_ETL.py:154 et al.)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cretn_cnt"))


@query(
    "a5_last_wins_merge",
    """SELECT user_id,
              arg_max(event_type, event_id) AS event_type,
              arg_max(value, event_id) AS value
       FROM events GROUP BY user_id""",
)
def a5_last_wins_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — the driver-side last-value-wins hash agg
    (Elastic_indexing.py:262-328) as a distributed groupBy with an
    explicit tiebreaker (max_by on event_id — SURVEY §7 risk 3)."""
    return last_wins_merge(
        _t(spark, sf_dir, "events"),
        key="user_id",
        order_col="event_id",
        scalar_cols=["event_type", "value"],
    )


@query(
    "a6_vector_assembly",
    """SELECT concat(l_orderkey, '-', l_linenumber) AS dre_cd,
              concat_ws(',', CAST(round(l_quantity, 2) AS DECIMAL(18,2)),
                             CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)),
                             CAST(round(l_discount, 2) AS DECIMAL(18,2)),
                             CAST(round(l_tax, 2) AS DECIMAL(18,2))) AS feature_vector
       FROM lineitem""",
)
def a6_vector_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — dense-vector assembly with NULL→0.0 defaults
    (Elastic_indexing.py:257-258,274-313): pure array() expression.

    The comparable output serializes the vector as a decimal-cast CSV
    string: raw ``array<double>`` cells are unhashable in the driver's
    pandas canonicalizer (the r2 ERR), and float→JSON formatting differs
    between engines; DECIMAL(18,2)→string is deterministic in both.
    ``assemble_vector`` remains the engine-facing array path (pytest'd)."""
    df = _t(spark, sf_dir, "lineitem").select(
        F.concat(F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("dre_cd"),
        F.round("l_quantity", 2).alias("v1"),
        F.round("l_extendedprice", 2).alias("v2"),
        F.round("l_discount", 2).alias("v3"),
        F.round("l_tax", 2).alias("v4"),
    )
    vec = df.select("dre_cd", assemble_vector(["v1", "v2", "v3", "v4"]).alias("feature_vector"))
    return vec.select(
        "dre_cd",
        F.concat_ws(
            ",",
            *[
                F.element_at("feature_vector", i + 1).cast("decimal(18,2)").cast("string")
                for i in range(4)
            ],
        ).alias("feature_vector"),
    )


@query(
    "a7_distinct_sorted_dates",
    """SELECT DISTINCT strftime(o_orderdate, '%Y%m') AS ym FROM orders ORDER BY ym""",
)
def a7_distinct_sorted_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — sorted distinct date partitions (BkupRs.py:66,183-189)."""
    df = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyyMM").alias("ym")
    )
    return distinct_sorted(df, "ym")


@query(
    "a8_group_minmax",
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
              round(min(c_acctbal), 2) AS min_bal,
              round(max(c_acctbal), 2) AS max_bal,
              round(avg(c_acctbal), 4) AS avg_bal
       FROM customer GROUP BY c_nationkey""",
)
def a8_group_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — group stats (index_counts.ipynb max-per-series, generalized)."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


@query(
    "a9_rollup",
    """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
              CAST(count(*) AS BIGINT) AS cnt, round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def a9_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] ROLLUP — Spark built-in (SURVEY §2.4 note)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "cnt",
            "sum_qty",
        )
    )


@query(
    "a10_cube",
    """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority,
              CAST(count(*) AS BIGINT) AS cnt
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
)
def a10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] CUBE — Spark built-in."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "cnt",
        )
    )


@query(
    "a11_distinct_count",
    """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
              CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
       FROM orders""",
)
def a11_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts; the approx variant (approx_count_distinct /
    HLL) is exposed as ``a12_approx_distinct`` with a rows-only check since
    sketch estimates differ across engines."""
    return _t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
    )


@query("a12_approx_distinct")  # rows-only: HLL estimates are engine-specific
def a12_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] approx_count_distinct (HLL++) — the scale path
    for distinct counts: constant memory, no shuffle of the key universe."""
    return _t(spark, sf_dir, "orders").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("approx_n_cust")
    )


@query(
    "a13_grouped_pivot",
    """SELECT o_custkey AS cust_key,
              round(coalesce(CAST(sum(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0), 2) AS "O",
              round(coalesce(CAST(sum(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0), 2) AS "F",
              round(coalesce(CAST(sum(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0), 2) AS "P"
       FROM orders GROUP BY o_custkey""",
)
def a13_grouped_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 idiomatic collapse — the reference's two-branch UNION ALL + merge
    (Elastic_indexing.py:133-147) as one groupBy().pivot() with explicit
    values (no extra distinct job). Prices are exact 2-dp, so summing in
    decimal(18,2) is lossless AND order-independent — the rounded output
    can't flake across partial-agg orders (r6 verdict wrong-item 3)."""
    out = grouped_pivot(
        _t(spark, sf_dir, "orders"),
        key="o_custkey",
        pivot_col="o_orderstatus",
        pivot_values=["O", "F", "P"],
        agg=F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
    )
    return out.select(
        F.col("o_custkey").alias("cust_key"),
        *[
            F.round(F.coalesce(F.col(s).cast("double"), F.lit(0.0)), 2).alias(s)
            for s in ("O", "F", "P")
        ],
    )


@query(
    "a18_unpivot_long",
    """WITH wide AS (
         SELECT o_custkey AS cust_key,
                round(coalesce(CAST(sum(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0), 2) AS st_o,
                round(coalesce(CAST(sum(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0), 2) AS st_f,
                round(coalesce(CAST(sum(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0), 2) AS st_p
         FROM orders GROUP BY o_custkey)
       SELECT cust_key, 'O' AS status, st_o AS total FROM wide
       UNION ALL SELECT cust_key, 'F', st_f FROM wide
       UNION ALL SELECT cust_key, 'P', st_p FROM wide""",
)
def a18_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — the inverse reshaping of a13's groupBy().pivot():
    the wide per-status totals fold back to (key, status, value) long
    form via ``stack``, the zero-copy row-generator Spark plans as a
    single Generate over the wide relation (no join, no shuffle beyond
    the wide aggregation itself). Wide↔long round-tripping is the
    feature-table plumbing every training pipeline does at its
    model-input boundary. The wide sums accumulate in decimal(18,2) —
    lossless for 2-dp prices and order-independent, so the rounded
    outputs are hash-stable (r6 verdict wrong-item 3)."""
    wide = grouped_pivot(
        _t(spark, sf_dir, "orders"),
        key="o_custkey",
        pivot_col="o_orderstatus",
        pivot_values=["O", "F", "P"],
        agg=F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
    ).select(
        F.col("o_custkey").alias("cust_key"),
        *[
            F.round(F.coalesce(F.col(s).cast("double"), F.lit(0.0)), 2).alias(s)
            for s in ("O", "F", "P")
        ],
    )
    return wide.select(
        "cust_key",
        F.expr("stack(3, 'O', O, 'F', F, 'P', P) AS (status, total)"),
    ).select("cust_key", "status", "total")


# ---------------------------------------------------------------------------
# §2.5 Windows (absent in reference — exposed natively per SURVEY)
# ---------------------------------------------------------------------------


@query(
    "w1_rank_in_group",
    """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS bal,
              CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn,
              CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, 2) DESC) AS BIGINT) AS rnk
       FROM customer""",
)
def w1_rank_in_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — generates the precomputed rank columns the reference consumes
    (dre_dty_rnk / dre_dty_part_rnk, Elastic_indexing.py:115-116). One
    shuffle on the partition key; rows sorted within partitions only."""
    w_rn = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    w_rk = Window.partitionBy("c_nationkey").orderBy(F.round("c_acctbal", 2).desc())
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("bal"),
        F.row_number().over(w_rn).alias("rn"),
        F.rank().over(w_rk).alias("rnk"),
    )


@query(
    "w2_moving_avg",
    """WITH daily AS (
         SELECT strftime(ts, '%Y-%m-%d') AS day, round(sum(value), 2) AS revenue
         FROM events WHERE event_type = 'purchase' GROUP BY 1)
       SELECT day, revenue,
              round(avg(revenue) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
       FROM daily""",
)
def w2_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — 7-row moving average over daily counts (the monitoring
    use case implied by index_counts.ipynb). Global window over ~30 day
    rows — fine; at scale the partitionBy would be the series key."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value"), 2).alias("revenue"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select("day", "revenue", F.round(F.avg("revenue").over(w), 4).alias("ma7"))


@query(
    "w3_lag_delta",
    """WITH daily AS (
         SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1)
       SELECT day, cnt,
              CAST(cnt - lag(cnt) OVER (ORDER BY day) AS BIGINT) AS delta
       FROM daily""",
)
def w3_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — lag(): day-over-day delta of the daily index counts the
    reference only eyeballs in a notebook."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("day")
    return daily.select("day", "cnt", (F.col("cnt") - F.lag("cnt").over(w)).alias("delta"))


@query(
    "w4_distribution_ranks",
    """SELECT c_custkey, c_mktsegment,
              CAST(ntile(4) OVER w AS BIGINT) AS quartile,
              round(percent_rank() OVER w, 6) AS pct_rank,
              round(cume_dist() OVER w, 6) AS cume
       FROM customer
       WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""",
)
def w4_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — distribution window functions (ntile / percent_rank /
    cume_dist): the quantile-bucketing step behind tiered pricing and
    balance-percentile features. Deterministic under ties because the
    window orders by (c_acctbal, c_custkey) — a unique key — so every
    peer group is a single row and both engines agree exactly. One
    shuffle on the segment key; at 100 TB ntile's only caveat is that a
    single partition's rows sort within one task, which holds as long as
    the partition key is chosen with bounded cardinality per key."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "w5_time_weighted_avg",
    """WITH base AS (
         SELECT user_id, event_id, epoch_us(ts) AS tus,
                CAST(round(value * 100) AS BIGINT) AS v100
         FROM events),
       seq AS (
         SELECT user_id, tus, v100,
                lead(tus) OVER w AS ntus,
                lead(v100) OVER w AS nv100
         FROM base
         WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
       areas AS (
         SELECT user_id,
                (v100 + nv100)::HUGEINT * (ntus - tus)::HUGEINT AS area_u,
                ntus - tus AS span_us
         FROM seq WHERE ntus IS NOT NULL)
       SELECT user_id,
              round(CAST(sum(area_u) AS DOUBLE)
                    / (CAST(sum(span_us) AS DOUBLE) * 200.0), 4) AS twa_value
       FROM areas GROUP BY user_id HAVING sum(span_us) > 0""",
)
def w5_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over an irregular series (trapezoidal rule)
    — the timescale-style rollup a plain avg() gets wrong when samples
    arrive unevenly: each adjacent pair contributes its mean value
    weighted by the seconds between the samples. Spark-first: one
    user-keyed window (lead), a projection for per-interval areas, and
    one partial-agg groupBy on the same user key — a single logical
    shuffle family end to end, no collects, scales with the fact.

    Hash stability: the per-interval trapezoid areas are accumulated in
    the EXACT integer domain — value is 2-dp (×100 → int64), timestamps
    are integral microseconds, so each area is (v100+nv100)·Δus, summed
    as decimal(38,0)/HUGEINT with no float-addition order sensitivity.
    The single final quotient (÷ 200·Σspan_us, folding the trapezoid ÷2
    and the cent scale) is one deterministic double op, so round(…, 4)
    cannot flake across partial-agg orders (r6 verdict wrong-item 3)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("v100"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    seq = base.select(
        "user_id",
        "tus",
        "v100",
        F.lead("tus").over(w).alias("ntus"),
        F.lead("v100").over(w).alias("nv100"),
    ).filter(F.col("ntus").isNotNull())
    areas = seq.select(
        "user_id",
        (
            (F.col("v100") + F.col("nv100")).cast("decimal(20,0)")
            * (F.col("ntus") - F.col("tus")).cast("decimal(20,0)")
        ).alias("area_u"),
        (F.col("ntus") - F.col("tus")).alias("span_us"),
    )
    return (
        areas.groupBy("user_id")
        .agg(F.sum("area_u").alias("sa"), F.sum("span_us").alias("ss"))
        .filter(F.col("ss") > 0)
        .select(
            "user_id",
            F.round(
                F.col("sa").cast("double") / (F.col("ss").cast("double") * 200.0), 4
            ).alias("twa_value"),
        )
    )


# ---------------------------------------------------------------------------
# §2.6 Sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "o1_limit_probe",
    """SELECT * FROM nation ORDER BY n_nationkey LIMIT 1""",
)
def o1_limit_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — ``limit 1`` schema probe (BkupRs.py:133-134); ordered so the
    probe row is deterministic."""
    return _t(spark, sf_dir, "nation").orderBy("n_nationkey").limit(1)


@query(
    "o3_topk",
    """SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer
       ORDER BY c_acctbal DESC, c_custkey LIMIT 10""",
)
def o3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O5 — top-k via sort+limit; Spark plans TakeOrderedAndProject
    (per-partition heap + driver merge, no full sort) — the distributed
    version of the reference's ``sort(reverse=True); lst[0]``
    (log_screen.py:119-127)."""
    return (
        _t(spark, sf_dir, "customer")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(10)
        .select("c_custkey", F.round("c_acctbal", 2).alias("bal"))
    )


# ---------------------------------------------------------------------------
# §2.7 Set operations
# ---------------------------------------------------------------------------


@query(
    "u1_union_all",
    """SELECT o_custkey AS cust_key, 'open' AS bucket FROM orders WHERE o_orderstatus = 'O'
       UNION ALL
       SELECT o_custkey AS cust_key, 'closed' AS bucket FROM orders WHERE o_orderstatus = 'F'""",
)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — UNION ALL of complementary branches
    (Elastic_indexing.py:133-147) via unionByName."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("cust_key"), F.lit("open").alias("bucket")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("cust_key"), F.lit("closed").alias("bucket")
    )
    return a.unionByName(b)


@query(
    "u3_intersect",
    """SELECT o_custkey AS cust_key FROM orders WHERE o_orderstatus = 'O'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def u3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] INTERSECT — customers with both open and
    filled orders."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("cust_key"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("cust_key"))
    return a.intersect(b)


@query(
    "u4_except",
    """SELECT c_custkey AS cust_key FROM customer
       EXCEPT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def u4_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] EXCEPT — set-difference twin of j5. The
    status filter keeps the difference non-empty on the synthetic data
    (every customer has some order) so the check compares real rows."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("cust_key"))
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("cust_key"))
    )
    return c.exceptAll(o).distinct()


# ---------------------------------------------------------------------------
# §2.8 Scalar function pack
# ---------------------------------------------------------------------------


@query(
    "f_scalar_pack",
    """SELECT c_custkey,
              coalesce(c_name, '') AS name_nvl,
              concat(c_custkey, '-', c_mktsegment) AS pk,
              substring(c_name, 1, 8) AS name8,
              replace(c_mktsegment, 'BUILD', 'BLD') AS seg_repl,
              trim(lower(c_mktsegment)) AS seg_lower,
              round(abs(c_acctbal), 1) AS bal_abs
       FROM customer""",
)
def f_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F7 in one projection (nvl / concat / substring / replace / trim /
    lower / round / abs) — entirely within one WholeStageCodegen span."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        nvl("c_name", "").alias("name_nvl"),
        F.concat(F.col("c_custkey"), F.lit("-"), F.col("c_mktsegment")).alias("pk"),
        F.substring("c_name", 1, 8).alias("name8"),
        F.replace(F.col("c_mktsegment"), F.lit("BUILD"), F.lit("BLD")).alias("seg_repl"),
        F.trim(F.lower("c_mktsegment")).alias("seg_lower"),
        F.round(F.abs("c_acctbal"), 1).alias("bal_abs"),
    )


@query(
    "f8_case_like_normalizer",
    """SELECT p_partkey,
              CASE WHEN p_type LIKE 'PROMO%' THEN 'promotional'
                   WHEN p_type LIKE '%BRUSHED%' THEN 'brushed'
                   WHEN p_type LIKE '%PLATED%' THEN 'plated'
                   WHEN p_type LIKE 'STANDARD%' THEN 'standard'
                   ELSE 'other' END AS type_norm
       FROM part""",
)
def f8_case_like_normalizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — the ~20-branch CASE WHEN…LIKE screen-name canonicalizer
    (log_screen.py:253-291) via the rule-chain builder."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        case_like_normalize(
            "p_type",
            [
                ("PROMO%", "promotional"),
                ("%BRUSHED%", "brushed"),
                ("%PLATED%", "plated"),
                ("STANDARD%", "standard"),
            ],
            default="other",
        ).alias("type_norm"),
    )


@query(
    "f10_timestamp_rebuild",
    """SELECT event_id,
              strptime(concat(strftime(ts, '%Y%m%d'), ' ', strftime(ts, '%H:%M:%S')),
                       '%Y%m%d %H:%M:%S') AS rebuilt_ts
       FROM events""",
)
def f10_timestamp_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — timestamp round-trip through yyyyMMdd + HH:mm:ss strings
    (log_screen.py:292's substring-chain, done with one to_timestamp)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        rebuild_timestamp(
            F.date_format("ts", "yyyyMMdd"), F.date_format("ts", "HH:mm:ss")
        ).alias("rebuilt_ts"),
    )


@query(
    "f17_json_extract",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
       FROM events""",
)
def f17_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 — JSON blob field extraction (the ``props`` column; reference
    round-trips _source dicts through json.dumps,
    Elastic_indexing.py:197-201)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


# Redshift-dialect SQL text the reference would ship to its warehouse
# (AWS_GLUE_ETL.py:91-106 shape): || concat, nvl, to_char, listagg(distinct
# … ) within group — executed VERBATIM through the dialect shim.
_S2_REDSHIFT_SQL = """
SELECT c.c_mktsegment || '-' || nvl(o.o_orderpriority, 'NONE') AS seg_prio,
       to_char(max(o.o_orderdate), 'YYYYMMDD') AS last_order_dt,
       listagg(distinct o.o_orderstatus, ',') within group (order by o.o_orderstatus) AS statuses,
       count(*) AS n
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment, nvl(o.o_orderpriority, 'NONE');
"""


@query(
    "s2_dialect_sql_etl",
    """SELECT c.c_mktsegment || '-' || coalesce(o.o_orderpriority, 'NONE') AS seg_prio,
              strftime(max(o.o_orderdate), '%Y%m%d') AS last_order_dt,
              string_agg(DISTINCT o.o_orderstatus, ',' ORDER BY o.o_orderstatus) AS statuses,
              CAST(count(*) AS BIGINT) AS n
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       GROUP BY c.c_mktsegment, coalesce(o.o_orderpriority, 'NONE')""",
)
def s2_dialect_sql_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — the reference's SQL-text-as-artifact path end to end: a
    Redshift-dialect query (|| concat, nvl, to_char, listagg distinct,
    trailing ';') is rewritten by functions/dialect.py and executed with
    spark.sql over registered views — a reference user's S3-stored SQL
    files run unchanged (AWS_GLUE_ETL.py:79-106)."""
    from .catalog import register_views
    from .functions.dialect import rewrite_redshift_sql

    register_views(spark, sf_dir)
    return spark.sql(rewrite_redshift_sql(_S2_REDSHIFT_SQL))


# ---------------------------------------------------------------------------
# TPC-H classics — headline bench queries (standard shapes a reference user
# would run; exercise scan+filter+join+agg+sort together)
# ---------------------------------------------------------------------------


@query(
    "tpch_q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_extendedprice), 4) AS avg_price,
              round(avg(l_discount), 4) AS avg_disc,
              CAST(count(*) AS BIGINT) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2001-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape over the driver's lineitem. Map-side partial agg on
    a 6-group key → trivially scalable; the filter pushes to parquet."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "tpch_q3_shipping_priority",
    """SELECT l.l_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
              o.o_orderdate, o.o_orderpriority
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1998-03-15'
         AND l.l_shipdate > TIMESTAMP '1998-03-15'
       GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
       ORDER BY revenue DESC, l_orderkey LIMIT 20""",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. customer is broadcast (dim); orders⋈lineitem
    shuffles on orderkey — the bucketing candidate at 100 TB. Top-20 via
    TakeOrdered, not a global sort."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        o.join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(20)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "tpch_q5_local_supplier",
    """SELECT n.n_name,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'ASIA'
       GROUP BY n.n_name""",
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join. All dims broadcast; the only shuffle
    is lineitem⋈orders. Catalyst reorders the dim joins after the fact
    join keys are resolved."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .join(
            broadcast_if_small(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
    )


@query(
    "tpch_q4_order_priority",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
         AND o.o_orderdate < TIMESTAMP '1997-04-01'
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
       GROUP BY o_orderpriority""",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → left-semi join; commitdate columns absent
    in the driver schema, returnflag stands in). The semi join ships only
    l_orderkey — no lineitem payload crosses the shuffle."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q6_forecast_revenue",
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — every predicate reaches the
    parquet reader (PushedFilters), single partial+final agg, no shuffle
    of data rows at all."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "tpch_q10_returned_items",
    """SELECT c.c_custkey, c.c_name,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
              n.n_name
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
         AND o.o_orderdate < TIMESTAMP '1997-04-01'
         AND l.l_returnflag = 'R'
       GROUP BY c.c_custkey, c.c_name, n.n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer. customer/nation
    broadcast; lineitem⋈orders is the one shuffle; top-20 via
    TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@query(
    "tpch_q14_promo_revenue",
    """SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                     THEN l.l_extendedprice * (1 - l.l_discount)
                                     ELSE 0 END)
                  / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       WHERE l.l_shipdate >= TIMESTAMP '1996-03-01' AND l.l_shipdate < TIMESTAMP '1996-04-01'""",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share. part broadcasts into the filtered
    lineitem scan — one stage, conditional agg, scalar out."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(broadcast_if_small(p), l.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


@query(
    "tpch_q18_large_orders",
    """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
              sum(l.l_quantity) AS total_qty
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
       GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
       ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders. The HAVING subquery is a partial
    agg over lineitem reused as a semi-join filter — both lineitem passes
    shuffle on l_orderkey so AQE coalesces them onto one exchange
    footprint; customer broadcasts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(big, o.o_orderkey == big.big_orderkey, "left_semi")
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@query(
    "tpch_q19_disjunctive_revenue",
    """SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       WHERE (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1 AND 15
              AND l.l_quantity BETWEEN 1 AND 21)
          OR (p.p_brand = 'Brand#2'  AND p.p_size BETWEEN 10 AND 30
              AND l.l_quantity BETWEEN 10 AND 30)
          OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 20 AND 40
              AND l.l_quantity BETWEEN 20 AND 40)""",
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-side predicates. The join stays
    a broadcast hash join on p_partkey; the OR-of-ANDs evaluates post-join
    (Catalyst still extracts the common l_quantity ≤ 40 / part-side brand
    bounds where derivable)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(20, 40) & F.col("l_quantity").between(20, 40))
    )
    return (
        l.join(broadcast_if_small(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "tpch_q15_top_supplier",
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s.s_suppkey, s.s_name, r.total_revenue
       FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
       WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
       ORDER BY s.s_suppkey""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top-revenue supplier via a derived revenue table used
    twice (rows + scalar max). The revenue agg is computed once and
    persisted for both uses — no second lineitem scan; supplier
    broadcasts. The persist goes through the session memo: a raw
    per-call persist here is never released (the returned frame
    depends on it), so repeated q15 runs in one session would pile up
    dead cache entries."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue_plan = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    revenue = memo.persisted("tpch_q15_revenue", revenue_plan)
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .orderBy("s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q20_part_suppliers",
    """SELECT DISTINCT s.s_suppkey, s.s_name
       FROM supplier s
       WHERE s.s_suppkey IN (
           SELECT l_suppkey FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           WHERE p.p_name LIKE '%ring%'
             AND l.l_shipdate >= TIMESTAMP '1997-01-01'
             AND l.l_shipdate < TIMESTAMP '1998-01-01')
       ORDER BY s.s_suppkey""",
)
def tpch_q20_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers that shipped a matching part in a
    window — IN-subquery as a semi join; part filter broadcasts into the
    lineitem scan, only distinct suppkeys cross the shuffle."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%ring%")).select("p_partkey")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shippers = (
        l.join(broadcast_if_small(p), l.l_partkey == p.p_partkey).select("l_suppkey").distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(shippers, s.s_suppkey == shippers.l_suppkey, "left_semi")
        .orderBy("s_suppkey")
        .select("s_suppkey", "s_name")
    )


@query(
    "a15_percentiles",
    """SELECT l_returnflag,
              round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
              round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
              round(quantile_cont(l_discount, 0.5), 4) AS disc_p50
       FROM lineitem GROUP BY l_returnflag""",
)
def a15_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] exact interpolated percentiles per group —
    Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition. At 100 TB swap for `percentile_approx`
    (t-digest, mergeable partial states); the exact form sorts per group
    and is the oracle baseline."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(l_discount, 0.5)"), 4).alias("disc_p50"),
        )
    )


@query(
    "j7_cross_join",
    """SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n""",
)
def j7_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] explicit cross join — small × small only
    (dimension grid); plans as BroadcastNestedLoopJoin. A fact-side cross
    join is a design error, not an operator gap."""
    r = _t(spark, sf_dir, "region").select("r_name")
    n = _t(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@query(
    "a16_nested_doc_assembly",
    """SELECT o_custkey,
              to_json(list_sort(list(struct_pack(order_key := o_orderkey,
                                                 priority := o_orderpriority)))) AS docs
       FROM orders GROUP BY o_custkey""",
)
def a16_nested_doc_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.3 nested struct arrays — the ES document shape
    (`nested_duty`/`nested_inqu` fields, openai_elasticsearch.py:51-54;
    doc assembly Elastic_indexing.py:229-258): one row per customer with
    a sorted array<struct> of their orders, serialized to JSON for
    engine-neutral comparison. collect_list merges partially; array_sort
    canonicalizes the unordered collect."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.to_json(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("o_orderkey").alias("order_key"),
                            F.col("o_orderpriority").alias("priority"),
                        )
                    )
                )
            ).alias("docs")
        )
    )


@query("a17_percentiles_approx")  # rows-only: t-digest values are engine-specific
def a17_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale twin of a15_percentiles: percentile_approx (mergeable
    sketch states, no per-group sort — the form that survives 100 TB).
    Rows-only checked; a test bounds its error against the exact
    percentiles."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
            F.percentile_approx("l_extendedprice", 0.9, 10000).alias("p90"),
        )
    )


@query(
    "a14_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(o_totalprice), 2) AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""",
)
def a14_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] GROUPING SETS — the general form behind
    rollup/cube (a9/a10); one pass, Expand feeds a single partial+final
    aggregation."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """SELECT o_orderstatus, o_orderpriority,
                  count(*) AS n,
                  round(sum(o_totalprice), 2) AS total
           FROM orders_gs
           GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())"""
    )


@query(
    "explode_top_tokens",
    """SELECT tok, CAST(count(*) AS BIGINT) AS cnt
       FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok FROM documents) t
       GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""",
)
def explode_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference as a distributed op] explode + count: corpus
    token frequencies — the CountVectorizer vocabulary step
    (Keyword.py:82-89) distributed. explode → partial count → top-k."""
    from .operators.text import tokens

    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H pack completion — every query expressible on this schema.
# (q2/q9/q11/q16 need partsupp, which the driver testdata doesn't ship;
# q12/q21 lateness and q22's country-code are adapted to the available
# columns the way tpch_q20 adapts its shape — the operator structure of
# each query is preserved.)
# ---------------------------------------------------------------------------


@query(
    "tpch_q7_volume_shipping",
    """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
                    l.l_extendedprice * (1 - l.l_discount) AS volume
             FROM supplier s
             JOIN lineitem l ON s.s_suppkey = l.l_suppkey
             JOIN orders o ON o.o_orderkey = l.l_orderkey
             JOIN customer c ON c.c_custkey = o.o_custkey
             JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
             JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
             WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) t
       GROUP BY supp_nation, cust_nation, l_year""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by ship year.
    Scale shape: both nation dims broadcast; the disjunctive nation-pair
    predicate prunes ~99.7% of rows before the year rollup, so the only
    big shuffles are the two fact-fact joins on orderkey/custkey."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    joined = (
        l.join(s.select("s_suppkey", "s_nationkey"), l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "tpch_q8_market_share",
    """SELECT o_year,
              round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                    / sum(volume), 6) AS mkt_share
       FROM (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                    l.l_extendedprice * (1 - l.l_discount) AS volume,
                    n2.n_name AS nation
             FROM part p
             JOIN lineitem l ON p.p_partkey = l.l_partkey
             JOIN supplier s ON s.s_suppkey = l.l_suppkey
             JOIN orders o ON o.o_orderkey = l.l_orderkey
             JOIN customer c ON c.c_custkey = o.o_custkey
             JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
             JOIN region r ON n1.n_regionkey = r.r_regionkey
             JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
             WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY') t
       GROUP BY o_year""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of regional volume for one part type
    per year — the conditional-sum / total-sum ratio in a single
    aggregation pass (no second scan). Part filter broadcasts into the
    lineitem scan; all dims broadcast."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nations = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            F.col("n_nationkey").alias("cn_key")
        )
    )
    supp_nation = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        l.join(broadcast_if_small(p), l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", volume).otherwise(F.lit(0.0)))
                / F.sum(volume),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q12_late_shipments",
    """SELECT late_band,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       FROM (SELECT o.o_orderpriority,
                    CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                         THEN 'LATE' ELSE 'ONTIME' END AS late_band
             FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey) t
       GROUP BY late_band""",
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: line counts by priority class per lateness band.
    The testdata ships no l_shipmode/l_commitdate/l_receiptdate, so the
    band is ship-lag vs order date (> 90 days = late) — the conditional
    double-count aggregation structure is Q12's verbatim."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .withColumn("late_band", F.when(late, "LATE").otherwise("ONTIME"))
        .groupBy("late_band")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "tpch_q13_order_distribution",
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       FROM (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
             FROM customer c
             LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                                AND o.o_orderpriority <> '1-URGENT'
             GROUP BY c.c_custkey) t
       GROUP BY c_count""",
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts (the filtered
    left join keeps zero-order customers in the histogram at c_count=0).
    The priority filter stands in for the o_comment NOT LIKE (no comment
    column in the testdata). Two aggregations, both partial-agg'd; the
    second groupBy keys on c_count so its input is already tiny."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).cast("long").alias("custdist"))


@query(
    "tpch_q17_small_quantity_revenue",
    """SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
       FROM lineitem l
       JOIN part p ON p.p_partkey = l.l_partkey
       WHERE p.p_brand = 'Brand#4'
         AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                             FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from small-quantity orders of one brand's
    parts. The correlated scalar subquery (per-part average quantity)
    becomes one partial-agg groupBy joined back — lineitem is scanned
    twice but the avg side reduces to one row per part before the join,
    and the brand filter broadcasts into both scans."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    branded = l.join(broadcast_if_small(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = (
        branded.groupBy(F.col("l_partkey").alias("ap_key"))
        .agg((F.avg("l_quantity") * 0.2).alias("qty_cap"))
    )
    return (
        branded.join(broadcast_if_small(avg_qty), F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "tpch_q21_waiting_suppliers",
    """WITH lo AS (SELECT l.l_orderkey, l.l_suppkey,
                          (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
                   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                   WHERE o.o_orderstatus = 'F'),
            po AS (SELECT l_orderkey,
                          count(DISTINCT l_suppkey) AS n_supp,
                          count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
                   FROM lo GROUP BY l_orderkey)
       SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
       FROM lo
       JOIN po ON lo.l_orderkey = po.l_orderkey
       JOIN supplier s ON lo.l_suppkey = s.s_suppkey
       WHERE lo.late AND po.n_supp > 1 AND po.n_late = 1
       GROUP BY s.s_name""",
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who alone held up a multi-supplier order.
    The EXISTS / NOT-EXISTS pair over sibling lineitems becomes two
    per-order window aggregates (distinct suppliers, distinct late
    suppliers) over the SAME orderkey partition — same semantics (a late
    row qualifies iff the order has >1 supplier and exactly one late
    supplier, necessarily l1's), and the whole per-order analysis costs
    ONE shuffle on orderkey (a groupBy-and-join-back shape costs three:
    countDistinct's expand, the final agg, and the re-join). Orders per
    key are tiny, so the window's in-partition sets stay small.
    Lateness adapted to ship-lag (no l_receiptdate/l_commitdate in the
    testdata)."""
    from pyspark.sql import Window

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lo = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .withColumn(
            "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        )
        .select("l_orderkey", "l_suppkey", "late")
    )
    w = Window.partitionBy("l_orderkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lo.withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late",
            F.size(F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)),
        )
        .filter(F.col("late") & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(broadcast_if_small(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@query(
    "tpch_q22_global_sales_opportunity",
    """SELECT c.c_mktsegment AS seg,
              CAST(count(*) AS BIGINT) AS numcust,
              round(sum(c.c_acctbal), 2) AS totacctbal
       FROM customer c
       WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderdate >= TIMESTAMP '2000-01-01')
       GROUP BY c.c_mktsegment""",
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: well-funded customers with no recent orders, grouped
    by segment (stands in for the phone country code — no c_phone in
    the testdata). The scalar average broadcasts as a 1-row join; the
    NOT EXISTS is a left_anti against the recent-orders projection."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("abal"))
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("abal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Keyed mutations — MERGE / CDC / SCD2 (operators/merge.py): the row-keyed
# generalization of the reference's delete-then-append maintenance
# (AWS_GLUE_ETL.py:124-132, BkupRs.py:272-280).
# ---------------------------------------------------------------------------


@query(
    "m1_merge_upsert",
    """WITH tgt AS (
         SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
       src AS (
         SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
                'MERGED' AS c_mktsegment
         FROM customer WHERE c_custkey % 10 = 0
         UNION ALL
         SELECT -c_custkey, 'NEW#' || CAST(c_custkey AS VARCHAR),
                0.0, 'INSERTED'
         FROM customer WHERE c_custkey % 100 = 0 AND c_custkey <> 0)
       SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
              CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
                   ELSE t.c_name END AS c_name,
              CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                   ELSE t.c_acctbal END AS c_acctbal,
              CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                   ELSE t.c_mktsegment END AS c_mktsegment
       FROM tgt t FULL JOIN src s ON t.c_custkey = s.c_custkey""",
)
def q_m1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (update matched + insert unmatched) in one full-outer pass
    (operators/merge.py:merge_upsert). Source mutates every 10th
    customer (+100 balance, segment MERGED — addition, not
    multiplication, so float results are bit-identical across engines)
    and inserts a new key per 100th — as the NEGATED custkey, disjoint
    from the real key space at any SF (the old +1000000 offset collided
    with genuine keys at the 100x synthetic, where merge_upsert's
    duplicate-source guard caught it; key 0 excluded, it negates to
    itself)."""
    from .operators.merge import merge_upsert

    tgt = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    src = (
        tgt.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
        .withColumn("c_mktsegment", F.lit("MERGED"))
        .unionByName(
            tgt.filter((F.col("c_custkey") % 100 == 0) & (F.col("c_custkey") != 0)).select(
                (-F.col("c_custkey")).alias("c_custkey"),
                F.concat(F.lit("NEW#"), F.col("c_custkey").cast("string")).alias(
                    "c_name"
                ),
                F.lit(0.0).alias("c_acctbal"),
                F.lit("INSERTED").alias("c_mktsegment"),
            )
        )
    )
    return merge_upsert(tgt, src, ["c_custkey"])


@query(
    "m2_cdc_apply",
    """WITH tgt AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       ch AS (
         SELECT o_orderkey, 1 AS seq, 'U' AS op, o_orderstatus,
                o_totalprice + 10.0 AS o_totalprice
         FROM orders WHERE o_orderkey % 5 = 0
         UNION ALL
         SELECT o_orderkey, 3, 'D', o_orderstatus, 0.0
         FROM orders WHERE o_orderkey % 15 = 0
         UNION ALL
         SELECT o_orderkey, 2, 'U', 'X', 0.0
         FROM orders WHERE o_orderkey % 20 = 0),
       latest AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                        ORDER BY seq DESC, op DESC) AS rn
           FROM ch) WHERE rn = 1),
       survived AS (
         SELECT t.* FROM tgt t LEFT JOIN latest d
           ON t.o_orderkey = d.o_orderkey AND d.op = 'D'
         WHERE d.o_orderkey IS NULL),
       ups AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM latest WHERE op <> 'D')
       SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
              CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                   ELSE t.o_orderstatus END AS o_orderstatus,
              CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                   ELSE t.o_totalprice END AS o_totalprice
       FROM survived t FULL JOIN ups u ON t.o_orderkey = u.o_orderkey""",
)
def q_m2_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-shaped change feed applied in batch
    (operators/merge.py:apply_cdc): per key the latest (seq, op) wins —
    seq-1 updates every 5th order, seq-2 re-updates every 20th, seq-3
    deletes every 15th (overriding earlier updates for those keys). The
    window collapse + one full-outer join verify against the oracle's
    replay, which keeps the delete-anti-join + merge form."""
    from .operators.merge import apply_cdc

    tgt = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    ch = (
        tgt.filter(k % 5 == 0)
        .select(
            "o_orderkey",
            F.lit(1).alias("seq"),
            F.lit("U").alias("op"),
            "o_orderstatus",
            (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        )
        .unionByName(
            tgt.filter(k % 15 == 0).select(
                "o_orderkey",
                F.lit(3).alias("seq"),
                F.lit("D").alias("op"),
                "o_orderstatus",
                F.lit(0.0).alias("o_totalprice"),
            )
        )
        .unionByName(
            tgt.filter(k % 20 == 0).select(
                "o_orderkey",
                F.lit(2).alias("seq"),
                F.lit("U").alias("op"),
                F.lit("X").alias("o_orderstatus"),
                F.lit(0.0).alias("o_totalprice"),
            )
        )
    )
    return apply_cdc(tgt, ch, ["o_orderkey"], op_col="op", seq_col="seq")


@query(
    "m3_scd2_dimension",
    """WITH dim AS (
         SELECT c_custkey AS cust_key, c_mktsegment AS segment,
                DATE '1992-01-01' AS valid_from,
                DATE '9999-12-31' AS valid_to,
                true AS is_current
         FROM customer),
       upd AS (
         SELECT c_custkey AS cust_key,
                'SEG_' || CAST(c_custkey % 3 AS VARCHAR) AS segment
         FROM customer WHERE c_custkey % 4 = 0
         UNION ALL
         SELECT -c_custkey, 'NEWSEG'
         FROM customer WHERE c_custkey % 50 = 0 AND c_custkey <> 0),
       changed AS (
         SELECT u.cust_key, u.segment FROM upd u
         JOIN dim d ON u.cust_key = d.cust_key AND d.is_current
         WHERE u.segment IS DISTINCT FROM d.segment),
       brand_new AS (
         SELECT u.cust_key, u.segment FROM upd u
         LEFT JOIN dim d ON u.cust_key = d.cust_key
         WHERE d.cust_key IS NULL),
       closed AS (
         SELECT d.cust_key, d.segment, d.valid_from,
                DATE '2024-06-01' AS valid_to, false AS is_current
         FROM dim d JOIN changed c ON d.cust_key = c.cust_key),
       untouched AS (
         SELECT d.* FROM dim d
         LEFT JOIN changed c ON d.cust_key = c.cust_key
         WHERE c.cust_key IS NULL),
       opened AS (
         SELECT cust_key, segment, DATE '2024-06-01' AS valid_from,
                DATE '9999-12-31' AS valid_to, true AS is_current
         FROM (SELECT * FROM changed UNION ALL SELECT * FROM brand_new))
       SELECT * FROM closed
       UNION ALL SELECT * FROM untouched
       UNION ALL SELECT * FROM opened""",
)
def q_m3_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension maintenance (operators/merge.py:scd2_apply):
    every 4th customer proposes a synthetic segment (changes only when
    it differs — null-safe comparison), every 50th key is brand new;
    changed keys close their current row at the batch date and open a
    new one. History, closure, pass-through, and insert arms all
    verify against the oracle's set reconstruction.

    Brand-new keys are NEGATED custkeys — disjoint from the real key
    space at ANY scale factor by construction (key 0, its own
    negation, is excluded). The old ``+ 1000000``
    offset collided with genuine keys at the 100x synthetic (key-shifted
    replication reaches 1.5M), where scd2_apply's r12 duplicate-key
    guard caught it: updates carried key 1000300 twice (copy-shifted
    real key AND 300+1M), and the pre-guard operator had been silently
    opening TWO simultaneous is_current rows there — exactly the
    corruption class the guard exists for."""
    from .operators.merge import scd2_apply

    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = cust.filter(F.col("c_custkey") % 4 == 0).select(
        F.col("c_custkey").alias("cust_key"),
        F.concat(F.lit("SEG_"), (F.col("c_custkey") % 3).cast("string")).alias(
            "segment"
        ),
    ).unionByName(
        cust.filter((F.col("c_custkey") % 50 == 0) & (F.col("c_custkey") != 0)).select(
            (-F.col("c_custkey")).alias("cust_key"),
            F.lit("NEWSEG").alias("segment"),
        )
    )
    return scd2_apply(dim, upd, "cust_key", ["segment"], "2024-06-01")


# ---------------------------------------------------------------------------
# Profiling & data-quality — the operational audit layer (operators/
# profiling.py): the reference's count-after-write audit
# (AWS_GLUE_ETL.py:134-140, row A4) grown into dbt-test / Deequ-shaped
# checks.
# ---------------------------------------------------------------------------


@query(
    "prof_orders_profile",
    """SELECT 'o_orderkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
              CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
              CAST(min(o_orderkey) AS DOUBLE) AS min_num,
              CAST(max(o_orderkey) AS DOUBLE) AS max_num
       FROM orders
       UNION ALL
       SELECT 'o_custkey', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              CAST(count(DISTINCT o_custkey) AS BIGINT),
              CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
       FROM orders
       UNION ALL
       SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              CAST(count(DISTINCT o_totalprice) AS BIGINT),
              CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
       FROM orders
       UNION ALL
       SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              CAST(count(DISTINCT o_orderstatus) AS BIGINT), NULL, NULL
       FROM orders""",
)
def q_prof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile in ONE aggregation pass (operators/profiling.py:
    profile_columns): nulls / exact distincts / numeric min-max per
    column, emitted long-format. The oracle needs four scans; the
    operator needs one."""
    from .operators.profiling import profile_columns

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    return profile_columns(orders)


@query(
    "dq_expectations",
    """SELECT 'not_null:o_custkey' AS rule,
              CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT) AS violations
       UNION ALL
       SELECT 'unique:o_orderkey',
              CAST((SELECT count(*) FROM (SELECT o_orderkey FROM orders
                    GROUP BY o_orderkey HAVING count(*) > 1) d) AS BIGINT)
       UNION ALL
       SELECT 'accepted_values:o_orderstatus',
              CAST((SELECT count(*) FROM orders
                    WHERE o_orderstatus NOT IN ('O', 'F') OR o_orderstatus IS NULL) AS BIGINT)
       UNION ALL
       SELECT 'ref_integrity:o_custkey',
              -- NULL child keys are NOT orphans (SQL FK / dbt
              -- relationships semantics — mirrors the r11 operator fix)
              CAST((SELECT count(*) FROM orders o
                    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer
                               WHERE c_custkey % 2 = 0) p
                      ON o.o_custkey = p.c_custkey
                    WHERE o.o_custkey IS NOT NULL
                      AND p.c_custkey IS NULL) AS BIGINT)""",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation suite (operators/profiling.py:expect_*): four rules
    unioned into one (rule, violations) audit frame. Two rules pass
    with 0 and two are PLANTED to fail — 'P'-status orders violate the
    accepted-values rule and an even-keys-only parent violates
    referential integrity — so the pass is non-vacuous in both
    directions."""
    from .operators.profiling import (
        expect_accepted_values,
        expect_not_null,
        expect_referential_integrity,
        expect_unique,
        run_expectations,
    )

    orders = _t(spark, sf_dir, "orders")
    parent = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0)
    return run_expectations(
        [
            expect_not_null(orders, "o_custkey"),
            expect_unique(orders, ["o_orderkey"]),
            expect_accepted_values(orders, "o_orderstatus", ["O", "F"]),
            expect_referential_integrity(orders, "o_custkey", parent, "c_custkey"),
        ]
    )


@query(
    "skew_top_keys",
    """WITH c AS (
         SELECT CAST(l_orderkey AS VARCHAR) AS key_value,
                CAST(count(*) AS BIGINT) AS cnt
         FROM lineitem GROUP BY 1),
       t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM c)
       SELECT key_value, cnt, round(cnt / tot, 6) AS share
       FROM c, t ORDER BY cnt DESC, key_value LIMIT 20""",
)
def q_skew_top_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew histogram (operators/profiling.py:skew_report):
    top-20 join keys by frequency with share-of-total — the number that
    decides whether salted_join is needed. Partial-agg + broadcast
    1-row total + TakeOrdered; ties broken by key string for a
    deterministic top-k in both engines."""
    from .operators.profiling import skew_report

    return skew_report(_t(spark, sf_dir, "lineitem"), "l_orderkey", top=20)


# ---------------------------------------------------------------------------
# Join variants beyond the reference: range (point-in-interval) and
# skew-salted — previously test-only, registered here with oracles.
# ---------------------------------------------------------------------------


@query(
    "prof_heavy_hitters",
    """WITH c AS (SELECT o_orderstatus AS value, CAST(count(*) AS BIGINT) AS cnt
                  FROM orders GROUP BY 1),
       t AS (SELECT sum(cnt) AS tot FROM c)
       SELECT value, cnt, round(cnt / (tot * 1.0), 6) AS share
       FROM c, t WHERE cnt * 4 > tot""",
)
def q_prof_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent items via two-pass distributed Misra-Gries
    (operators/profiling.py:heavy_hitters, k=3 → threshold n/4): pass 1
    is a bounded-state per-partition sketch (mapInPandas, no shuffle),
    pass 2 exact-counts only the surviving candidates through a
    broadcast semi-join. The MG pigeonhole guarantee makes the final
    thresholded output EXACTLY the full-groupBy answer — which is what
    the oracle computes — while the work shape shuffles candidates, not
    the key's cardinality. On orders.o_orderstatus the two ~49% statuses
    pass and the ~2.6% 'P' is correctly cut; the sketch-vs-exact
    equivalence on adversarial skew is property-tested in
    tests/test_profiling.py."""
    from .operators.profiling import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "orders"), "o_orderstatus", k=3)


@query(
    "j8_range_join",
    """SELECT r.r_name AS band, CAST(count(*) AS BIGINT) AS n_orders,
              round(sum(o.o_totalprice), 2) AS total_price
       FROM orders o JOIN region r
         ON o.o_totalprice >= r.r_regionkey * 100000.0
        AND o.o_totalprice <  (r.r_regionkey + 1) * 100000.0
       GROUP BY 1""",
)
def q_j8_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (operators/joins.py:range_join): orders
    priced into 5 broadcast price bands — the big side never shuffles
    (BroadcastNestedLoopJoin on the band condition), then one partial
    agg."""
    from .operators.joins import range_join

    bands = _t(spark, sf_dir, "region").select(
        F.col("r_name").alias("band"),
        (F.col("r_regionkey") * 100000.0).alias("lo"),
        ((F.col("r_regionkey") + 1) * 100000.0).alias("hi"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_totalprice")
    return (
        range_join(orders, bands, "o_totalprice", "lo", "hi")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "j9_salted_join",
    """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
              round(sum(l.l_extendedprice), 2) AS total_price
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       WHERE o.o_orderstatus = 'O'
       GROUP BY 1""",
)
def q_j9_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (operators/joins.py:salted_join): the small side
    (open orders) replicates 8×, the fact side's hot keys scatter across
    (key, salt) sub-partitions with a deterministic salt — and the
    result must equal the plain join, which is exactly what the oracle
    checks."""
    from .operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    open_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        salted_join(li, open_orders, "l_orderkey", "o_orderkey", salts=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@query(
    "j10_fuzzy_join",
    """WITH dirty AS (
         SELECT replace(n_name, 'NATION', 'NATJON') AS dirty_name FROM nation)
       SELECT d.dirty_name, n.n_name,
              CAST(levenshtein(d.dirty_name, n.n_name) AS INTEGER) AS edit_dist
       FROM dirty d JOIN nation n
         ON levenshtein(d.dirty_name, n.n_name) <= 1""",
)
def q_j10_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution join (operators/joins.py:fuzzy_join): planted
    misspellings (NATION→NATJON, edit distance exactly 1) recover their
    clean dimension row via a broadcast levenshtein join — JVM-side
    edit distance, no UDF, big side never shuffles. Threshold 1 makes
    every match unique, so the oracle checks exact resolution."""
    from .operators.joins import fuzzy_join

    nation = _t(spark, sf_dir, "nation")
    dirty = nation.select(
        F.replace(F.col("n_name"), F.lit("NATION"), F.lit("NATJON")).alias("dirty_name")
    )
    return fuzzy_join(
        dirty, nation.select("n_name"), "dirty_name", "n_name", max_dist=1
    ).select("dirty_name", "n_name", F.col("edit_dist").cast("int").alias("edit_dist"))


@query(
    "mv_incremental_refresh",
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
              round(sum(o_totalprice), 2) AS total_price
       FROM orders GROUP BY o_custkey""",
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh (operators/aggregations.py:
    incremental_agg_merge): the per-customer summary is maintained from
    a pre-1999 base plus a 1999+ batch — counts and sums merge by
    re-aggregation, touching only the batch and the (small) summary.
    The oracle recomputes from the FULL table, so the hash match is the
    incremental ≡ full-recompute equivalence proof."""
    from .operators.aggregations import incremental_agg_merge

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        )

    base = summarize(orders.filter(F.col("o_orderdate") < "1999-01-01"))
    batch = summarize(orders.filter(F.col("o_orderdate") >= "1999-01-01"))
    merged = incremental_agg_merge(base, batch, ["o_custkey"])
    return merged.select(
        "o_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round("total_price", 2).alias("total_price"),
    )


@query(
    "prof_column_entropy",
    """WITH pairs AS (
          SELECT 'o_orderstatus' AS col,
                 coalesce(CAST(o_orderstatus AS VARCHAR), '') AS val,
                 o_orderstatus IS NULL AS is_null
          FROM orders
          UNION ALL
          SELECT 'o_orderpriority', coalesce(CAST(o_orderpriority AS VARCHAR), ''),
                 o_orderpriority IS NULL
          FROM orders
          UNION ALL
          SELECT 'o_custkey', coalesce(CAST(o_custkey AS VARCHAR), ''),
                 o_custkey IS NULL
          FROM orders
        ), counts AS (
          SELECT col, val, is_null, count(*) AS c
          FROM pairs GROUP BY col, val, is_null
        ), term AS (
          SELECT col,
                 sum(c) OVER (PARTITION BY col) AS n_rows,
                 CAST(round(CAST(c AS DOUBLE)
                      * (ln(CAST(sum(c) OVER (PARTITION BY col) AS DOUBLE))
                         - ln(CAST(c AS DOUBLE))) * 1e6) AS BIGINT) AS t
          FROM counts
        )
        SELECT col,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(t) // any_value(n_rows) AS BIGINT) AS entropy_micro
        FROM term GROUP BY col""",
)
def q_prof_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column Shannon entropy profile (operators/profiling.py:
    column_entropy): o_orderstatus ~3 values, o_orderpriority ~5,
    o_custkey near-key cardinality — the near-constant vs near-unique
    spread null/distinct counts alone miss. Fixed-point per-VALUE terms on
    the value-domain-bounded count table, integer sums, integral final
    division: no float reaches the output."""
    from .operators.profiling import column_entropy

    return column_entropy(
        load_table(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority", "o_custkey"],
    )


@query(
    "prof_value_correlation",
    """WITH cnt AS (
         SELECT l_orderkey, CAST(count(*) AS BIGINT) AS items
         FROM lineitem GROUP BY l_orderkey),
       j AS (
         SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc, items
         FROM orders JOIN cnt ON o_orderkey = l_orderkey),
       s AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) AS DOUBLE) AS nd,
                CAST(sum(xc) AS DOUBLE) AS sx,
                CAST(sum(items) AS DOUBLE) AS sy,
                CAST(sum(xc * items) AS DOUBLE) AS sxy,
                CAST(sum(xc * xc) AS DOUBLE) AS sxx,
                CAST(sum(items * items) AS DOUBLE) AS syy
         FROM j)
       SELECT n,
              CAST(floor((nd * sxy - sx * sy)
                         / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
                         * 1000000) AS BIGINT) AS r_micro,
              CAST(floor((nd * sxy - sx * sy) / (nd * sxx - sx * sx)
                         * 1000000) AS BIGINT) AS slope_micro
       FROM s""",
)
def prof_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] Pearson correlation + OLS slope between
    order price and item count — the column-pair relationship profile
    (does X predict Y?) that per-column stats (`prof_orders_profile`,
    `prof_column_entropy`) cannot see. NOT the built-in `corr()`: its
    streaming covariance accumulates in floats whose partial-merge
    order differs per run/engine. Here every Σ (x, y, xy, x², y²) is an
    EXACT integer on cent-scaled values (decimal sums on the Spark
    side, HUGEINT on DuckDB's), and only the final closed-form — a
    fixed IEEE expression over those exact integers converted to
    doubles — touches floats, so `floor(·1e6)` is hash-stable.

    Scale: per-order count is one partial agg; the join is key-to-key
    (AQE-planned); the moment agg is a 1-row map-side-combined pass.
    Decimal(38) sums hold ~1e22 of headroom over int64, covering any
    real SF."""
    cnt = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("items"))
    )
    j = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("xc"),
        )
        .join(cnt, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    dec = "decimal(38,0)"
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(F.col("xc").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("items").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("xc") * F.col("items")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("xc") * F.col("xc")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("items") * F.col("items")).cast(dec)).cast("double").alias("syy"),
    )
    cov = F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "n",
        F.floor(cov / F.sqrt(varx * vary) * 1000000).cast("long").alias("r_micro"),
        F.floor(cov / varx * 1000000).cast("long").alias("slope_micro"),
    )


@query(
    "prof_drift_psi",
    """WITH ev AS (
         SELECT ts >= TIMESTAMP '2024-01-16' AS cur,
                CAST(round(value * 100) AS BIGINT) AS vc
         FROM events),
       edges AS (
         SELECT quantile_cont(vc, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
         FROM ev WHERE NOT cur),
       counts AS (
         SELECT len(list_filter(e, x -> vc > x)) AS bucket,
                CAST(sum(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS n_ref,
                CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
         FROM ev CROSS JOIN edges GROUP BY 1),
       tot AS (
         SELECT sum(n_ref) AS np, sum(n_cur) AS nq FROM counts)
       SELECT bucket, n_ref, n_cur,
              CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                CAST(floor((CAST(n_ref AS DOUBLE) / np - CAST(n_cur AS DOUBLE) / nq)
                           * ln((CAST(n_ref AS DOUBLE) / np)
                                / (CAST(n_cur AS DOUBLE) / nq)) * 1000000) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS psi_term_micro
       FROM counts CROSS JOIN tot""",
)
def prof_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[absent in reference] Population Stability Index between the
    first and second half of the event stream — the distribution-drift
    monitor every trained model's input pipeline needs (PSI ≥ 0.2 is the
    conventional retrain alarm). Buckets are the REFERENCE half's value
    deciles (order statistics — portable), assignment is an edge-count
    fold identical in both engines, and each of the ≤10 per-bucket terms
    is floored to 1e-6 fixed point before the (integer) total — the
    `prof_column_entropy` contract, with the same honest caveat: ln is
    correctly rounded in practice, not IEEE-guaranteed, with a ±1-micro
    blast radius per bucket. Empty-side buckets contribute 0 (the
    standard PSI clamp), kept visible in n_ref/n_cur.

    Scale shape: the 9 decile edges are a single-row agg over the
    reference slice that rides back as a broadcast; bucket counts are
    ONE partial-agg groupBy of (≤10 keys); the term math runs on the
    10-row count table. Exact `percentile` buffers the reference slice
    — at 100 TB swap for `approx_percentile` edges (the a15/a17
    pattern)."""
    ev = _t(spark, sf_dir, "events").select(
        (F.col("ts") >= "2024-01-16").alias("cur"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    edges = ev.filter(~F.col("cur")).agg(
        F.expr(
            "percentile(vc, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))"
        ).alias("e")
    )
    counts = (
        ev.crossJoin(F.broadcast(edges))
        .select(
            F.size(F.filter(F.col("e"), lambda x: F.col("vc") > x)).alias("bucket"),
            "cur",
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("cur"), 0).otherwise(1)).cast("long").alias("n_ref"),
            F.sum(F.when(F.col("cur"), 1).otherwise(0)).cast("long").alias("n_cur"),
        )
    )
    # totals as a window over the ≤10-row count table — a separate agg +
    # cross join would re-plan the counts subtree per consumer (the
    # prof_column_entropy pattern)
    wt = Window.partitionBy()
    counts = counts.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(wt).cast("double").alias("np"),
        F.sum("n_cur").over(wt).cast("double").alias("nq"),
    )
    p = F.col("n_ref").cast("double") / F.col("np")
    q = F.col("n_cur").cast("double") / F.col("nq")
    return counts.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.floor((p - q) * F.log(p / q) * 1000000),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("psi_term_micro"),
    )

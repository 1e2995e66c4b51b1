"""Analytic operator family — correctness-gate queries.

Each query maps one operator family from SURVEY.md §2 (reference:
YayoiHabami/Jobcan-Data-Integrator, see file:line cites per query) onto the
driver's TPC-H-ish test tables, as an idiomatic Catalyst-native DataFrame
program plus a DuckDB oracle.

Scale notes (100 TB design stance), applied throughout:

- dimension joins (nation/region/supplier/part) are explicit ``broadcast``;
- fact-fact joins key on the natural join column so AQE can pick
  sort-merge + skew mitigation;
- aggregations are expressed so map-side partial aggregation applies
  (plain ``groupBy().agg()`` of algebraic functions);
- money math runs in ``decimal`` (exact, order-insensitive) and is cast to
  ``double`` only at the output boundary;
- no Python UDFs anywhere — every expression is JVM-side / codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jobcan_data_integrator_spark.gate import gate
from jobcan_data_integrator_spark.session import load_table


def _dec(col: str, prec: str = "decimal(18,2)"):
    return F.col(col).cast(prec)


# ---------------------------------------------------------------------------
# Extra join/aggregation families (A3, J2, J9)
# ---------------------------------------------------------------------------


@gate(
    "a3_conditional_distinct_concat",
    oracle="""
    SELECT user_id,
           coalesce(string_agg(DISTINCT CASE WHEN value > 100 THEN event_type END,
                               ', ' ORDER BY CASE WHEN value > 100 THEN event_type END),
                    'NULL') AS high_value_types,
           count(DISTINCT CASE WHEN value > 100 THEN event_type END) AS n_high_types,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
    doc="A3 (users.py:208-237): conditional GROUP_CONCAT(DISTINCT) with "
    "explicit sort + COUNT(DISTINCT) guard + the reference's 'NULL' string "
    "sentinel. collect_set is order-free; array_sort pins the order both "
    "engines agree on.",
)
def a3_conditional_distinct_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cond = F.when(F.col("value") > 100, F.col("event_type"))
    return ev.groupBy("user_id").agg(
        F.coalesce(
            F.nullif(F.array_join(F.array_sort(F.collect_set(cond)), ", "), F.lit("")),
            F.lit("NULL"),
        ).alias("high_value_types"),
        F.countDistinct(cond).alias("n_high_types"),
        F.count("*").alias("n_events"),
    )


@gate(
    "j2_composite_key_join",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), purchases AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_purchases,
             CAST(round(sum(value), 4) AS DOUBLE) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT d.user_id, CAST(d.day AS VARCHAR) AS day, d.n_events,
           coalesce(p.n_purchases, 0) AS n_purchases,
           coalesce(p.purchase_value, 0.0) AS purchase_value
    FROM daily d
    LEFT JOIN purchases p ON d.user_id = p.user_id AND d.day = p.day
    """,
    doc="J2 (create_views.sql:32-42): LEFT join on a composite key "
    "(user_id, day). Both sides pre-aggregate on the join key, so the "
    "join shuffles one row per (user, day) — partial-agg-before-join is "
    "the at-scale shape.",
)
def j2_composite_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    daily = ev.groupBy("user_id", "day").agg(F.count("*").alias("n_events"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 4).cast("double").alias("purchase_value"),
        )
    )
    return (
        daily.alias("d")
        .join(purchases.alias("p"), ["user_id", "day"], "left")
        .select(
            "user_id",
            F.col("day").cast("string").alias("day"),
            "n_events",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        )
    )


@gate(
    "j9_nonkey_equi_join",
    oracle="""
    SELECT p.p_brand AS brand, count(*) AS n_pairs,
           CAST(round(avg(abs(p.p_retailprice - q.p_retailprice)), 4) AS DOUBLE)
             AS avg_price_gap
    FROM part p JOIN part q
      ON p.p_brand = q.p_brand AND p.p_partkey < q.p_partkey
    GROUP BY p.p_brand
    """,
    doc="J9 (create_views.sql:461-462): equi-join on a NON-key column "
    "(brand), the fan-out-risk join. The aggregate collapses the fan-out "
    "immediately; at 100 TB a hot brand is the classic skew case — AQE "
    "skew-join splits it, or pre-salt brand with a small modulus.",
)
def j9_nonkey_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    p = part.alias("p")
    q = part.alias("q")
    return (
        p.join(
            q,
            (F.col("p.p_brand") == F.col("q.p_brand"))
            & (F.col("p.p_partkey") < F.col("q.p_partkey")),
        )
        .groupBy(F.col("p.p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg(F.abs(F.col("p.p_retailprice") - F.col("q.p_retailprice"))), 4)
            .cast("double")
            .alias("avg_price_gap"),
        )
    )


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (aggregation family, SURVEY §2.5)
# ---------------------------------------------------------------------------


@gate(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)           AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)      AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(5,4)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(5,4)))
                    * (1 + CAST(l_tax AS DECIMAL(5,4)))), 2) AS DOUBLE)      AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
           round(CAST(sum(CAST(l_discount AS DECIMAL(5,4))) AS DOUBLE) / count(*), 4)  AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_quantity < 45
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Aggregation family A5/§2.5: grouped algebraic aggregates with exact "
    "decimal money math; maps the reference's GROUP BY collapse views "
    "(create_views.sql:337-338 etc.) onto lineitem.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = _dec("l_discount", "decimal(5,4)")
    tax = _dec("l_tax", "decimal(5,4)")
    price = _dec("l_extendedprice")
    return (
        li.filter(F.col("l_quantity") < 45)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.round(F.sum(price * (F.lit(1) - disc)), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 4).alias("avg_qty"),
            F.round(F.sum(disc).cast("double") / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Join family (SURVEY §2.4)
# ---------------------------------------------------------------------------


# NOT driver-gated: the registry is capped at 50 rows (the driver
# artifact's observed limit) and this was its weakest evidence row — the
# broadcast-left-join + CASE-decode shape is already value-proven by
# j2/j3/j4 and the view goldens.  The query stays covered by a pytest
# golden (tests/test_gate_oracle.py::test_j1_customer_details_golden)
# with the identical DuckDB oracle; its registry slot now carries
# dd_incremental_dedup (gate/llm.py).
def j1_customer_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 (create_views.sql:7-42): chained LEFT joins to broadcast
    dimensions + CASE decode with ELSE passthrough
    (create_views.sql:130-138)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    seg = F.col("c_mktsegment")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            F.when(seg == "BUILDING", "建築")
            .when(seg == "AUTOMOBILE", "自動車")
            .when(seg == "MACHINERY", "機械")
            .when(seg == "HOUSEHOLD", "家庭")
            .otherwise(seg)
            .alias("segment_jp"),
            F.col("c_acctbal").alias("acctbal"),
            F.when(F.col("c_acctbal") < 0, "negative").otherwise("ok").alias("acctbal_flag"),
        )
    )


@gate(
    "j3_top_revenue_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(5,4)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(5,4)))) DESC, o.o_orderkey
    LIMIT 10
    """,
    doc="J3-style fact-fact join + grouped revenue + deterministic top-k "
    "(exact-decimal sort key, o_orderkey tiebreak).",
)
def j3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "decimal(5,4)")))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("_rev_dec"))
        .orderBy(F.col("_rev_dec").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_orderpriority",
            F.col("_rev_dec").cast("double").alias("revenue"),
        )
    )


@gate(
    "j5_nation_revenue",
    oracle="""
    SELECT n.n_name AS nation_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(5,4)))) AS DOUBLE) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-shaped 6-way join: 2 fact tables shuffle-joined on their "
    "keys, 4 broadcast dimensions; grouped revenue per nation.",
)
def j5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "decimal(5,4)")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(rev.cast("double").alias("revenue"), F.count("*").alias("n_lineitems"))
    )


@gate(
    "j8_self_join_disjunct",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           a.qty AS qty_returned_a, r.qty AS qty_returned_r
    FROM orders o
    LEFT JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
               FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_orderkey) a
      ON o.o_orderkey = a.l_orderkey
    LEFT JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
               FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey) r
      ON o.o_orderkey = r.l_orderkey
    WHERE a.qty IS NOT NULL OR r.qty IS NOT NULL
    """,
    doc="J8 (create_views.sql:453-462): the fix_journals 'book'/'pay' self-join "
    "×2 with disjunct filters, re-keyed on lineitem return flags. Aggregate "
    "BEFORE the join so each side is pre-collapsed (no fan-out).",
)
def j8_self_join_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def side(flag: str, key: str, out: str) -> DataFrame:
        return (
            li.filter(F.col("l_returnflag") == flag)
            .groupBy(F.col("l_orderkey").alias(key))
            .agg(F.sum(_dec("l_quantity")).cast("double").alias(out))
        )

    a = side("A", "k_a", "qty_returned_a")
    r = side("R", "k_r", "qty_returned_r")
    return (
        o.join(a, o.o_orderkey == a.k_a, "left")
        .join(r, o.o_orderkey == r.k_r, "left")
        .filter(F.col("qty_returned_a").isNotNull() | F.col("qty_returned_r").isNotNull())
        .select("o_orderkey", "o_orderstatus", "qty_returned_a", "qty_returned_r")
    )


def j10_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 / set-difference sync (users.py:129-134): left-anti join — the
    Spark primitive behind MERGE ... NOT MATCHED BY SOURCE DELETE.

    ROTATED out of the 50-gate driver registry in round 5 (slot given
    to ig_incremental_curation, like J1 in round 4): the driver row was
    a 0==0 comparison — the TPC-H-ish generator gives every customer an
    order at the gate SFs — so the dual-engine golden now lives in
    tests/test_gate_oracle.py::test_j10_anti_join_golden, which also
    runs a crafted orphan-customer fixture that actually produces
    rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def j11_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (create_views.sql:335-336, _requests.py:219-251): dynamic
    id-set filtering as a left-semi join (scales where IN-lists cannot).

    ROTATED out of the 50-gate driver registry in round 8 (slot given
    to rt_hybrid_rrf, like J1/J10/f_currency/n_repeat in earlier
    rounds): the J family keeps six driver gates (J2-J5/J8/J9) and the
    semi-join idiom also runs inside J5's chain; the dual-engine value
    golden lives on in tests/test_gate_oracle.py::
    test_j11_semi_join_golden."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(c, o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# Aggregation family (SURVEY §2.5)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@gate(
    "a1_pivot_event_values",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
           CAST(sum(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
           CAST(sum(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
    FROM events GROUP BY user_id
    """,
    doc="A1 (create_views.sql:309-323): MAX(CASE WHEN idx=k ...) pivot — the "
    "customized_items positional pivot — as groupBy().pivot() with explicit "
    "pivot values (single-pass, no value-discovery job).",
)
def a1_pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(_dec("value")).cast("double"))
    )
    return piv


@gate(
    "a2_ordered_concat_history",
    oracle="""
    SELECT user_id,
           string_agg(event_type || '（' || strftime(ts, '%Y/%m/%d  %H:%M:%S') || '）',
                      ', ' ORDER BY ts, event_id) AS history
    FROM events GROUP BY user_id
    """,
    doc="A2 (create_views.sql:260-281): ordered GROUP_CONCAT building "
    "'name（承認日時：ts）' strings — order pinned via array_sort on a "
    "(ts,event_id) struct, incl. the reference's double-space date format "
    "(create_views.sql:143).",
)
def a2_ordered_concat_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    item = F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
    return (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(item)).alias("_items"))
        .select(
            "user_id",
            F.array_join(
                F.transform(
                    F.col("_items"),
                    lambda x: F.concat(
                        x["event_type"],
                        F.lit("（"),
                        F.date_format(x["ts"], "yyyy/MM/dd  HH:mm:ss"),
                        F.lit("）"),
                    ),
                ),
                ", ",
            ).alias("history"),
        )
    )


@gate(
    "a4_first_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, ts FROM (
      SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events) t WHERE rn = 1
    """,
    doc="A4 (create_views.sql:228-241): SQLite's nondeterministic bare-GROUP-BY "
    "first-row made deterministic with row_number over an explicit sort.",
)
def a4_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


# ---------------------------------------------------------------------------
# Set operators & incremental semantics (SURVEY §2.7, §2.9)
# ---------------------------------------------------------------------------


@gate(
    "s_union_dedup_incremental",
    oracle="""
    SELECT DISTINCT event_id, event_type FROM (
      SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT event_id, event_type FROM events WHERE value > 150
    ) t
    """,
    doc="§2.7 (api_client.py:575-595): union of the two incremental fetch "
    "passes + id dedup — unionByName + dropDuplicates.",
)
def s_union_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    p1 = ev.filter(F.col("event_type") == "purchase")
    p2 = ev.filter(F.col("value") > 150)
    return p1.unionByName(p2).dropDuplicates(["event_id"]).select("event_id", "event_type")


@gate(
    "i3_watermark_merge",
    oracle="""
    SELECT user_id,
           max(ts) AS watermark,
           max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase_ts,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
    doc="I1/I3 (status/status.py:621-626,895-911): per-key watermark compute "
    "and element-wise-max merge as a grouped max.",
)
def i3_watermark_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max("ts").alias("watermark"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase_ts"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# JSON shred / reconstruct (SURVEY §2.2 N1-N13, §2.5 A6)
# ---------------------------------------------------------------------------


@gate(
    "n2_json_shred_props",
    oracle="""
    SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    doc="N2 family (database/requests/_customized_items.py:114-156): JSON "
    "field shredding with an explicit schema via from_json (no inference).",
)
def n2_json_shred_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "struct<k:bigint>")
    return ev.select("event_id", "user_id", parsed["k"].alias("k"))


@gate(
    "a6_json_reconstruct_user_events",
    oracle="""
    SELECT user_id,
           '[' || string_agg(
             json_object('event_id', event_id,
                         'k', CAST(json_extract_string(props, '$.k') AS BIGINT))::varchar,
             ',' ORDER BY event_id) || ']' AS events_json
    FROM events GROUP BY user_id
    """,
    doc="A6 (_requests.py:137-199 etc.): JSON_GROUP_ARRAY(JSON_OBJECT(...)) "
    "document reconstruction — collect_list(struct) sorted by key, to_json.",
)
def a6_json_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "struct<k:bigint>")["k"]
    item = F.struct(F.col("event_id"), k.alias("k"))
    return (
        ev.groupBy("user_id")
        .agg(F.to_json(F.array_sort(F.collect_list(item))).alias("events_json"))
    )


# ---------------------------------------------------------------------------
# Scalar function family (SURVEY §2.8)
# ---------------------------------------------------------------------------


def f_currency_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 (create_views.sql:441-443,554-556): '123,456 円'
    currency-string parse — regexp_replace strip + cast, round-tripped
    through formatting.

    ROTATED out of the 50-gate driver registry in round 7 (slot given
    to ig_retract, like J1/J10 in rounds 4/5): a trivial two-scalar-
    function gate whose semantics are also exercised inside the 21
    dual-engine view goldens; the dual-engine value golden now lives in
    tests/test_gate_oracle.py::test_f_currency_roundtrip_golden."""
    p = load_table(spark, sf_dir, "part")
    yen = F.floor(F.col("p_retailprice")).cast("bigint")
    amount_str = F.concat(F.format_number(yen, 0), F.lit(" 円"))
    return p.select(
        "p_partkey",
        amount_str.alias("amount_str"),
        F.regexp_replace(amount_str, "[円, ]", "").cast("bigint").alias("amount_yen"),
    )


def f_date_format_jst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 (create_views.sql:143,161): strftime('%Y/%m/%d  %H:%M:%S',
    ts, 'localtime') — UTC→JST render with the double-space format.

    ROTATED out of the 50-gate driver registry in round 9 (slot given
    to ig_probe, like J1/J10/J11/f_currency/n_repeat in earlier
    rounds): the scalar-function family keeps its other driver gates
    and the same date_format idiom runs inside the view layer; the
    dual-engine value golden lives on in tests/test_gate_oracle.py::
    test_f_date_format_golden."""
    o = load_table(spark, sf_dir, "orders")
    fmt = "yyyy/MM/dd  HH:mm:ss"
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", fmt).alias("order_date_utc"),
        F.date_format(F.from_utc_timestamp("o_orderdate", "Asia/Tokyo"), fmt).alias(
            "order_date_jst"
        ),
    )


# ---------------------------------------------------------------------------
# Recursive-CTE row repetition (SURVEY §2.7, _default_attachment_files.py:59-86)
# ---------------------------------------------------------------------------


def n_repeat_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 (_default_attachment_files.py:59-86): the recursive-CTE row
    repeater replaced by explode(array_repeat()) — no recursion needed.
    Rotated out of the 50-row driver registry in round 8 (slot given to
    rt_bm25_topk); the dual-engine value golden lives on in
    tests/test_gate_oracle.py."""
    s = load_table(spark, sf_dir, "supplier")
    n = (F.col("s_suppkey") % 3 + 1).cast("int")
    return s.select(
        "s_suppkey",
        F.posexplode(F.array_repeat(F.col("s_name"), n)).alias("copy_idx", "s_name"),
    ).select("s_suppkey", F.col("copy_idx").cast("bigint").alias("copy_idx"), "s_name")


# ---------------------------------------------------------------------------
# Window / sessionization (SURVEY §2.6, §2.9)
# ---------------------------------------------------------------------------


@gate(
    "w_sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged)
    SELECT user_id, session_seq, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_seq
    """,
    doc="§2.6: gap-based sessionization (30-min) via lag + running sum — the "
    "window-function family the reference lacked but our engine needs at scale.",
)
def w_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "is_new", F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "session_seq", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@gate(
    "w_tumbling_window_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="§2.9: tumbling 1-hour windowed aggregation — the event-time "
    "window the reference's late-data catch-up maps onto, run as a batch.",
)
def w_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value"
        )
    )


# ---------------------------------------------------------------------------
# FK-chain joins, fan-out collapse, 2-D shred, open-items catch-up
# (SURVEY §2.4 J4, §2.5 A5, §2.2 N3, §2.9 I2)
# ---------------------------------------------------------------------------


@gate(
    "j4_fk_chain_left_joins",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, l.l_linenumber, l.l_quantity
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """,
    doc="J4 (create_views.sql:182-199, approval_process ⟕ steps ⟕ approvers): "
    "a two-level LEFT FK chain that preserves parents without children at "
    "every level. Both joins share the child side's natural shuffle key, so "
    "the second join reuses the first's partitioning (one exchange per side).",
)
def j4_fk_chain_left_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .join(li, o["o_orderkey"] == li["l_orderkey"], "left")
        .select("c_custkey", "o_orderkey", "l_linenumber", "l_quantity")
    )


@gate(
    "a5_fanout_collapse",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           (min(struct_pack(ln := l.l_linenumber, pk := l.l_partkey))).pk
             AS first_partkey,
           count(*) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
    doc="A5 (create_views.sql:337-338 etc.): GROUP BY collapsing a fan-out "
    "join back to one row per parent. SQLite silently takes an arbitrary "
    "row for bare columns; here the 'first' is pinned deterministically — "
    "min(struct(sort_key, payload)) — which is also algebraic, so it "
    "partial-aggregates map-side before the shuffle (no window needed).",
)
def a5_fanout_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.min(F.struct("l_linenumber", "l_partkey"))["l_partkey"].alias(
                "first_partkey"
            ),
            F.count("*").alias("n_lines"),
            F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
        )
    )


@gate(
    "n3_2d_table_shred",
    oracle="""
    WITH numbered AS (
      SELECT l_orderkey,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber,
                                         [l_quantity, l_extendedprice, l_discount])
               - 1 AS index_1,
             [l_quantity, l_extendedprice, l_discount] AS cells
      FROM lineitem
    )
    SELECT l_orderkey, CAST(index_1 AS INT) AS index_1,
           CAST(generate_subscripts(cells, 1) - 1 AS INT) AS index_2,
           unnest(cells) AS cell_value
    FROM numbered
    """,
    doc="N3 (_customized_items.py:21-56, table_data rows keyed "
    "(customized_item_id, index_1, index_2)): 2-D grid shredding via nested "
    "posexplode — each level's array position becomes part of the natural "
    "key, exactly the reference's UNIQUE(…, index_1, index_2) contract. "
    "The grid is built with a sorted collect_list so row order is explicit.",
)
def n3_2d_table_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    grid = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber"),
                        F.array(
                            "l_quantity", "l_extendedprice", "l_discount"
                        ).alias("cells"),
                    )
                )
            ).alias("rows")
        )
        .select("l_orderkey", F.expr("transform(rows, r -> r.cells)").alias("grid"))
    )
    return grid.select(
        "l_orderkey", F.posexplode("grid").alias("index_1", "row_cells")
    ).select(
        "l_orderkey",
        "index_1",
        F.posexplode("row_cells").alias("index_2", "cell_value"),
    )


@gate(
    "i2_open_items_catchup",
    oracle="""
    SELECT DISTINCT o_orderkey, o_orderstatus, o_orderdate
    FROM orders
    WHERE o_orderdate > TIMESTAMP '1999-01-01 00:00:00' OR o_orderstatus = 'O'
    """,
    doc="I2 (gateway/gateway.py:497-501, doc/実行フロー.md:149-175): the "
    "late-data catch-up work queue — union of the watermark-filtered new "
    "items and the still-open items whose status can still change, "
    "deduplicated. Both branches are pushed-down scans of the same table; "
    "at scale the watermark predicate prunes date partitions.",
)
def i2_open_items_catchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    new_items = o.filter(F.col("o_orderdate") > F.lit("1999-01-01 00:00:00").cast("timestamp"))
    open_items = o.filter(F.col("o_orderstatus") == "O")
    return new_items.unionByName(open_items).distinct()

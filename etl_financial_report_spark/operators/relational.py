"""Relational core: scans, filters, projections, joins, aggregates, sorts
(SURVEY.md §2.1-§2.4, §2.6) — all declarative DataFrame plans; Catalyst
picks the physical strategy (broadcast vs sort-merge, partial aggs,
pushdown). The reference does each of these by hand, row-at-a-time
(SURVEY.md §4); none of that survives here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.finance import money9, as_double, money, net_price
from ..io import driver_frame, load_table
from ..registry import register

# --------------------------------------------------------------------------
# Flagship: the EAV statement-report query (SURVEY.md §7 minimum slice).
# The one real question the reference exists to answer — "statement X of
# issuer Y for year/quarter Z, scaled, with notes" (filtered SELECT at
# mainTesting.py:102-111) — expressed on the testdata star schema as
# revenue by (year, quarter): scan → join → date filter → quarter
# derivation (F13/F15) → exact-decimal money math (F12 discipline) →
# partial+final agg → sort.
# --------------------------------------------------------------------------


@register(
    "flagship_statement_report",
    oracle="""
SELECT CAST(year(o_orderdate) AS INTEGER) AS tahun,
       CAST(quarter(o_orderdate) AS INTEGER) AS quartal,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS total_nilai,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="Flagship statement report: join + date filter + quarter derivation + decimal agg.",
)
def flagship_statement_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
        .select(
            F.year("o_orderdate").alias("tahun"),
            F.quarter("o_orderdate").alias("quartal"),
            net_price().alias("net"),
            money9("l_quantity").alias("qty"),
        )
        .groupBy("tahun", "quartal")
        .agg(
            as_double(F.sum("net"), "total_nilai"),
            F.count(F.lit(1)).alias("n_items"),
            as_double(F.sum("qty"), "total_qty"),
        )
        .orderBy("tahun", "quartal")
    )


# --------------------------------------------------------------------------
# S13/P3/P4 — filtered scan with case-insensitive equality + ILIKE predicates
# (the reference's hand-built WHERE clause, mainTesting.py:102-115).
# --------------------------------------------------------------------------


@register(
    "s13_filtered_scan",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment, c_nationkey
FROM customer
WHERE lower(c_mktsegment) = lower('Furniture')
  AND c_nationkey < 10
  AND c_name ILIKE '%1%'
""",
    doc="Filtered scan: case-insensitive equality (P3) + ILIKE contains (P4); predicates push to parquet.",
)
def s13_filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.where(
        (F.lower("c_mktsegment") == F.lower(F.lit("Furniture")))
        & (F.col("c_nationkey") < 10)
        & F.col("c_name").ilike("%1%")
    ).select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")


# --------------------------------------------------------------------------
# J1 — theta/contains join (text lines ⋈ fact rows, mainTesting.py:88-185).
# The reference probes the DB once per PDF line (O(n) round trips); here it
# is ONE join: equi key (lang) hash-joinable + contains() as the theta
# residual. The keyword dim is broadcast — at 100 TB the big side never
# shuffles for this join.
# --------------------------------------------------------------------------

_KEYWORDS = [("spark", "en"), ("join", "zh"), ("window", "de"), ("stream", "fr"), ("filter", "es")]


@register(
    "j1_contains_join",
    oracle="""
SELECT kw.kw AS kw, COUNT(*) AS n_docs, CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
FROM documents d
JOIN (VALUES ('spark','en'),('join','zh'),('window','de'),('stream','fr'),('filter','es')) kw(kw, lang)
  ON d.lang = kw.lang AND contains(d.text, kw.kw)
GROUP BY kw.kw
""",
    doc="Theta/contains join (J1): equi-prejoin on lang + contains() residual; broadcast small dim.",
)
def j1_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kw = driver_frame(spark, _KEYWORDS, "kw string, lang string")
    return (
        docs.join(F.broadcast(kw), (docs.lang == kw.lang) & F.col("text").contains(F.col("kw")))
        .groupBy("kw")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


# --------------------------------------------------------------------------
# J3 — anti-join (idempotent-insert guard, mainTesting.py:693-729):
# incoming rows minus already-present keys.
# --------------------------------------------------------------------------


@register(
    "j3_anti_join",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2000-01-01'
)
""",
    doc="Left-anti join (J3): the exactly-once ingest guard as a relational op.",
)
def j3_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# J4 — semi-join existence gate (mainTesting.py:117).
# --------------------------------------------------------------------------


@register(
    "j4_semi_join",
    oracle="""
SELECT c_nationkey, COUNT(*) AS n_customers_with_final_orders
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY c_nationkey
""",
    doc="Left-semi join (J4): rows participate only if >=1 match exists.",
)
def j4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers_with_final_orders"))
    )


# --------------------------------------------------------------------------
# A-surface — full aggregation battery (TPC-H Q1 shape). The reference has
# no aggregates (ingest-only); the EAV model becomes *reports* only through
# these (SURVEY.md §2.4). Partial/final agg split is Catalyst's.
# --------------------------------------------------------------------------


@register(
    "agg_statement_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
       CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="Aggregation battery: sum/avg/min/max/count/count_distinct with exact decimal money math.",
)
def agg_statement_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.finance import gross_price

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-06-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            as_double(F.sum(money9("l_quantity")), "sum_qty"),
            as_double(F.sum(money9("l_extendedprice")), "sum_base"),
            as_double(F.sum(net_price()), "sum_disc"),
            as_double(F.sum(gross_price()), "sum_charge"),
            (F.sum(money9("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.min("l_quantity").cast("double").alias("min_qty"),
            F.max("l_quantity").cast("double").alias("max_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_rollup",
    oracle="""
SELECT r_name, n_name,
       CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
GROUP BY ROLLUP (r_name, n_name)
""",
    doc="Hierarchical rollup (region -> nation -> total) with GROUPING id disambiguation.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    return (
        r.join(n, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(c, F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_customers"),
            as_double(F.sum(money9("c_acctbal")), "total_acctbal"),
        )
        .select("r_name", "n_name", "gid", "n_customers", "total_acctbal")
    )


#: accuracy gate for the HLL++ estimate vs the exact twin: default rsd is
#: 5% (1 sigma); worst observed across sf0.001/0.01/0.1 is 6.7%, so 20%
#: (4 sigma) keeps the gate deterministic-green while still failing loudly
#: on a broken sketch. The estimate itself is partition-order-independent
#: (HLL register merge is a max — commutative and associative).
APPROX_DISTINCT_GATE = 0.20


@register(
    "agg_approx_distinct",
    # the HLL estimate is engine-specific, so the registered output is the
    # exact twin plus an accuracy-gate boolean whose expected value is a
    # literal in the oracle (the estimate's raw value stays in tests)
    oracle=f"""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users_exact,
       TRUE AS approx_within_{int(APPROX_DISTINCT_GATE * 100)}pct
FROM events
GROUP BY event_type
""",
    doc=(
        "approx_count_distinct (HLL++) per event_type — the at-scale "
        "distinct path. The sketch estimate is engine-specific, so the "
        "canonical output is the exact twin count plus the accuracy gate "
        f"|approx - exact| <= {APPROX_DISTINCT_GATE:.0%} * exact as a "
        "boolean the oracle expects to be the literal TRUE; "
        "tests/test_sketches.py pins the estimate against the sketch's "
        "own error bound."
    ),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id")
    exact = F.countDistinct("user_id")
    return ev.groupBy("event_type").agg(
        exact.alias("n_users_exact"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.lit(APPROX_DISTINCT_GATE) * exact.cast("double")
        ).alias(f"approx_within_{int(APPROX_DISTINCT_GATE * 100)}pct"),
    )


@register(
    "agg_exact_distinct",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
""",
    doc="Exact count-distinct twin of agg_approx_distinct.",
)
def agg_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


# --------------------------------------------------------------------------
# A3 — max-style first-match (descending year scan with early exit,
# mainTesting.py:321-325) re-expressed as a conditional aggregate.
# --------------------------------------------------------------------------


@register(
    "a3_first_match_max",
    oracle="""
SELECT o_orderstatus,
       CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN year(o_orderdate) END) AS INTEGER)
           AS latest_urgent_year
FROM orders
GROUP BY o_orderstatus
""",
    doc="Descending-scan-with-break (A3) as max(when(...)): no early exit needed, one agg.",
)
def a3_first_match_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max(F.when(F.col("o_orderpriority") == "1-URGENT", F.year("o_orderdate"))).alias(
            "latest_urgent_year"
        )
    )


# --------------------------------------------------------------------------
# O2 — vertical union with dedup (pd.concat, test_uploadPDF.py:42-44) and
# O4 — deterministic top-k (orderBy + limit -> TakeOrderedAndProject).
# --------------------------------------------------------------------------


@register(
    "o2_union_dedup",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
UNION
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 50000
""",
    doc="Union + dedup (O2/A2): unionByName + dropDuplicates == SQL UNION.",
)
def o2_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", "o_totalprice")
    big = o.where(F.col("o_totalprice") > 50000).select("o_orderkey", "o_totalprice")
    return urgent.unionByName(big).dropDuplicates()


@register(
    "o4_topk",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
    doc="Top-k (O4): total-order tiebreaker makes the result deterministic; Catalyst plans TakeOrderedAndProject.",
)
def o4_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "o_global_sort",
    oracle="""
SELECT o_orderkey, o_orderdate_s, o_totalprice
FROM (SELECT o_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate_s,
             o_totalprice
      FROM orders)
ORDER BY o_totalprice DESC, o_orderkey
""",
    doc=(
        "True global sort (O1 generalized): full output totally ordered — "
        "planned as a RangePartitioning exchange (sampled split points) + "
        "per-partition sort, NOT the single-reducer sort a naive engine "
        "does; contrast with o4_topk's TakeOrderedAndProject. The driver "
        "hash is order-insensitive, so the companion plan test pins the "
        "rangepartitioning shape."
    ),
)
def o_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
        "o_totalprice",
    ).orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))


@register(
    "agg_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE over (status, priority) — all 2^k grouping sets in one pass (Expand + single shuffle).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            as_double(F.sum(money9("o_totalprice")), "total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price")
    )


@register(
    "o_set_ops",
    oracle="""
SELECT 'both' AS bucket, c_custkey FROM (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'FURNITURE'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
)
UNION ALL
SELECT 'only_segment' AS bucket, c_custkey FROM (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'FURNITURE'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
)
""",
    doc="Set operators (SURVEY.md §2.6): intersect + except composed into one labeled result.",
)
def o_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    seg = c.where(F.col("c_mktsegment") == "FURNITURE").select("c_custkey")
    pos = c.where(F.col("c_acctbal") > 0).select("c_custkey")
    both = seg.intersect(pos).select(F.lit("both").alias("bucket"), "c_custkey")
    only = seg.exceptAll(pos).distinct().select(F.lit("only_segment").alias("bucket"), "c_custkey")
    return both.unionByName(only)


#: spend-band width for the distributed ntile rank: bands partition the
#: sort key's range, so in-band windows parallelize and only the per-band
#: counts (a few thousand rows at any scale) see a global prefix window
NTILE_BAND_WIDTH = 100_000.0


@register(
    "w_ntile_percentile",
    oracle="""
WITH t AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
    FROM orders GROUP BY o_custkey
)
SELECT ntile,
       COUNT(*) AS n_customers,
       CAST(MIN(spend) AS DOUBLE) AS min_spend,
       CAST(MAX(spend) AS DOUBLE) AS max_spend
FROM (SELECT o_custkey, spend, ntile(4) OVER (ORDER BY spend, o_custkey) AS ntile FROM t)
GROUP BY ntile
""",
    doc=(
        "ntile quartiles over per-customer spend (deterministic total "
        "order) + per-bucket bounds. The global rank is DISTRIBUTED: "
        "row_number within spend bands (window partitioned by "
        "floor(spend/band)) plus a broadcast prefix of band counts — "
        "band order is consistent with the sort key, so global rank = "
        "band offset + in-band rank; the quartile comes from the rank via "
        "ntile's exact uneven-bucket formula. No single-reducer sort of "
        "the customer dimension anywhere."
    ),
)
def w_ntile_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(as_double(F.sum(money9("o_totalprice")), "spend"))
    banded = spend.withColumn(
        "band", F.floor(F.col("spend") / F.lit(NTILE_BAND_WIDTH)).cast("long")
    )
    w_in = Window.partitionBy("band").orderBy(F.asc("spend"), F.asc("o_custkey"))
    ranked_in = banded.withColumn("r_in", F.row_number().over(w_in))
    counts = banded.groupBy("band").agg(F.count(F.lit(1)).alias("band_n"))
    w_b = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "band", F.coalesce(F.sum("band_n").over(w_b), F.lit(0)).alias("band_offset")
    )
    total = banded.agg(F.count(F.lit(1)).alias("n_total"))
    ranked = (
        ranked_in.join(F.broadcast(offsets), "band")
        .crossJoin(F.broadcast(total))
        .withColumn("r", F.col("band_offset") + F.col("r_in"))
    )
    # ntile(4) from the global rank: the first n%4 buckets hold n DIV 4 + 1
    # rows, the rest n DIV 4 (CASE is lazy, so the ELSE division never runs
    # when n < 4 makes the base size zero)
    ntile = F.expr(
        """
        CASE WHEN r <= (n_total % 4) * (n_total DIV 4 + 1)
             THEN (r - 1) DIV (n_total DIV 4 + 1) + 1
             ELSE (n_total % 4)
                  + (r - (n_total % 4) * (n_total DIV 4 + 1) - 1) DIV (n_total DIV 4) + 1
        END
        """
    ).cast("int")
    return (
        ranked.select("o_custkey", "spend", ntile.alias("ntile"))
        .groupBy("ntile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("spend").alias("min_spend"),
            F.max("spend").alias("max_spend"),
        )
    )


@register(
    "agg_median_percentile",
    oracle="""
SELECT o_orderstatus,
       CAST(median(CAST(o_totalprice AS DOUBLE)) AS DOUBLE) AS median_price,
       CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9) AS DOUBLE) AS p90_price
FROM orders
GROUP BY o_orderstatus
""",
    doc="Exact median / continuous percentile per group (percentile_cont; exact, portable).",
)
def agg_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("double")
    return o.groupBy("o_orderstatus").agg(
        F.median(p).alias("median_price"),
        F.percentile(p, F.lit(0.9)).alias("p90_price"),
    )


N_SALT = 16


@register(
    "agg_salted_skew",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
GROUP BY l_returnflag
""",
    doc=(
        "Skew-safe salted aggregation: phase 1 groups by (key, salt) so one "
        "hot key spreads over N_SALT reducers, phase 2 merges partials — "
        "result-identical to the plain groupBy (the oracle proves it). The "
        "manual form of AQE skew handling, for when the skew is in an agg "
        "key rather than a join key."
    ),
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(N_SALT)))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(money9("l_quantity")).alias("pq"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_rows"),
        as_double(F.sum("pq"), "total_qty"),
    )

@register(
    "j_salted_skew_join",
    oracle="""
SELECT n_name,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
    doc=(
        "Skew-safe salted JOIN: the fact side salts its join key with "
        "pmod(xxhash64(row-unique col), N_SALT) and the dimension side is "
        "exploded N_SALT ways, so one hot supplier spreads over N_SALT "
        "reducers — result-identical to the plain join (the oracle proves "
        "it). The manual form of AQE's skew-join split for engines/paths "
        "where AQE can't apply (streaming joins, pre-AQE Spark); here the "
        "dim is small enough to broadcast outright, which is why the demo "
        "disables broadcast for its own join via a merge hint."
    ),
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(N_SALT))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    dim = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))))
    )
    joined = li.hint("merge").join(
        dim, (F.col("l_suppkey") == F.col("s_suppkey")) & (li["salt"] == dim["salt"])
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        as_double(F.sum(money9("l_quantity")), "total_qty"),
    )


# --------------------------------------------------------------------------
# EAV -> wide report reconstruction. The reference stores one row per
# statement line item and rebuilds the statement by filtering the composite
# key (SURVEY.md §1.1); the wide "statement" view — items as rows, periods
# as columns — is the pivot the GUI renders implicitly. Here: quarterly
# revenue pivoted to one column per quarter.
# --------------------------------------------------------------------------


@register(
    "p_pivot_statement",
    oracle="""
SELECT CAST(year(o_orderdate) AS INTEGER) AS tahun,
       CAST(SUM(CASE WHEN quarter(o_orderdate) = 1 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS q1,
       CAST(SUM(CASE WHEN quarter(o_orderdate) = 2 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS q2,
       CAST(SUM(CASE WHEN quarter(o_orderdate) = 3 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS q3,
       CAST(SUM(CASE WHEN quarter(o_orderdate) = 4 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS q4
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY 1
""",
    doc=(
        "EAV long -> wide statement pivot (the report view the reference's "
        "GUI renders): .pivot() with explicit quarter values so Spark skips "
        "the extra distinct-values job; one shuffle, partial+final agg."
    ),
)
def p_pivot_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("o_orderdate").alias("tahun"),
            F.quarter("o_orderdate").alias("quartal"),
            net_price().alias("net"),
        )
        .groupBy("tahun")
        .pivot("quartal", [1, 2, 3, 4])
        .agg(F.sum("net"))
        .select(
            "tahun",
            *[F.col(str(q)).cast("double").alias(f"q{q}") for q in (1, 2, 3, 4)],
        )
        .orderBy("tahun")
    )


# --------------------------------------------------------------------------
# Quarter-over-quarter delta — the reporting query the EAV model feeds
# (SURVEY.md §2.4: "quarter-over-quarter deltas"). lag() over the period
# sequence; in production the window is partitioned per issuer, so the
# single-partition sort below becomes a per-key sort.
# --------------------------------------------------------------------------


@register(
    "w_qoq_delta",
    oracle="""
WITH q AS (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS tahun,
           CAST(quarter(o_orderdate) AS INTEGER) AS quartal,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
)
SELECT tahun, quartal, revenue,
       revenue - LAG(revenue) OVER (ORDER BY tahun, quartal) AS qoq_delta
FROM q
ORDER BY tahun, quartal
""",
    doc=(
        "Quarter-over-quarter revenue delta: decimal-exact quarterly sums "
        "cast to double once, then lag() over the period order — the delta "
        "is a difference of two bit-identical doubles, so cross-engine "
        "stable. First period's delta is NULL by definition."
    ),
)
def w_qoq_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    q = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.year("o_orderdate").alias("tahun"),
            F.quarter("o_orderdate").alias("quartal"),
            net_price().alias("net"),
        )
        .groupBy("tahun", "quartal")
        .agg(as_double(F.sum("net"), "revenue"))
    )
    w = Window.orderBy("tahun", "quartal")
    return (
        q.withColumn("qoq_delta", F.col("revenue") - F.lag("revenue").over(w))
        .orderBy("tahun", "quartal")
    )


# --------------------------------------------------------------------------
# GROUPING SETS — the general form of rollup/cube (both already covered):
# an explicit set list with grouping_id() to tell aggregated-away nulls
# from data nulls.
# --------------------------------------------------------------------------


@register(
    "agg_grouping_sets",
    oracle="""
SELECT CAST(year(o_orderdate) AS INTEGER) AS tahun,
       o_orderpriority,
       CAST(GROUPING(year(o_orderdate), o_orderpriority) AS INTEGER) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority), (year(o_orderdate)), ())
ORDER BY gid, tahun, o_orderpriority
""",
    doc=(
        "GROUPING SETS ((year, priority), (year), ()) via the native "
        "DataFrame.groupingSets API — one shuffle produces all three "
        "granularities; grouping_id disambiguates rollup nulls from data "
        "nulls (same bit encoding in Spark and DuckDB)."
    ),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("tahun"), "o_orderpriority", "o_totalprice"
    )
    return (
        o.groupingSets(
            [[F.col("tahun"), F.col("o_orderpriority")], [F.col("tahun")], []],
            F.col("tahun"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            as_double(F.sum(money9("o_totalprice")), "total"),
        )
        .orderBy("gid", "tahun", "o_orderpriority")
    )

@register(
    "p_unpivot_statement",
    oracle="""
WITH wide AS (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS tahun,
           CAST(SUM(CASE WHEN quarter(o_orderdate) = 1 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS q1,
           CAST(SUM(CASE WHEN quarter(o_orderdate) = 2 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS q2,
           CAST(SUM(CASE WHEN quarter(o_orderdate) = 3 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS q3,
           CAST(SUM(CASE WHEN quarter(o_orderdate) = 4 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS q4
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
)
SELECT tahun, quartal, nilai
FROM wide
UNPIVOT (nilai FOR quartal IN (q1, q2, q3, q4))
ORDER BY tahun, quartal
""",
    doc=(
        "Wide -> EAV long unpivot (DataFrame.unpivot/melt): the inverse of "
        "p_pivot_statement and exactly the reference's storage shape — one "
        "row per (period, line item). DuckDB's UNPIVOT drops NULL cells and "
        "so does this plan (a quarter absent from the data emits no row)."
    ),
)
def p_unpivot_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = p_pivot_statement(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["tahun"],
            values=["q1", "q2", "q3", "q4"],
            variableColumnName="quartal",
            valueColumnName="nilai",
        )
        .where(F.col("nilai").isNotNull())
        .orderBy("tahun", "quartal")
    )


#: histogram bucket width over events.value (value range is single-digit
#: scale in the testdata; the shape is width-agnostic)
HIST_WIDTH = 10.0


@register(
    "agg_value_histogram",
    oracle=f"""
SELECT event_type,
       CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(MIN(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS lo,
       CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS hi
FROM events
GROUP BY event_type, bucket
""",
    doc=(
        "Fixed-width histogram per event type: bucket = floor(value/width), "
        "one partial+final aggregate pass — the profiling primitive behind "
        "every data-quality dashboard. Bucketing before the shuffle means "
        "the exchange carries |types| x |buckets| rows regardless of input "
        "size; min/max per bucket come along free in the same pass."
    ),
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(HIST_WIDTH)).cast("long").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(dec).cast("double").alias("lo"),
            F.max(dec).cast("double").alias("hi"),
        )
    )


#: datasketches HLL at default lgK=12 has rsd ~1.6%/sqrt(2^12)·const —
#: worst observed merged-estimate error across SFs is 0.8%; 10% is a
#: many-sigma deterministic gate
HLL_MERGE_GATE = 0.10


@register(
    "agg_hll_sketch_merge",
    # sketch binary images are engine-specific; the registered output is
    # the exact distinct twin + the daily-sketch count (both oracle-exact)
    # plus the merged-estimate accuracy gate as a literal-TRUE boolean
    oracle=f"""
SELECT event_type,
       COUNT(DISTINCT date_trunc('day', ts)) AS n_daily_sketches,
       COUNT(DISTINCT user_id) AS n_users_exact,
       TRUE AS est_within_{int(HLL_MERGE_GATE * 100)}pct
FROM events
GROUP BY event_type
""",
    doc=(
        "Mergeable-sketch distinct counting (Apache DataSketches HLL, "
        "Spark 4 built-ins): per-(type, day) partial sketches built once, "
        "then hll_union_agg merges them into a per-type total WITHOUT "
        "touching raw rows again — the continuous-aggregate pattern of "
        "ts_rollup_merge applied to COUNT DISTINCT, which plain partial "
        "counts cannot do (distincts don't add). At 100 TB the daily "
        "sketches are the stored rollup (KBs per group); any date-range "
        "distinct query is a union over sketches, not a rescan. The "
        "merged estimate is engine-specific, so the canonical output is "
        "the exact twin + sketch count + the accuracy gate "
        f"|est - exact| <= {HLL_MERGE_GATE:.0%} * exact as a literal-TRUE "
        "boolean; the raw estimate is asserted in tests/test_sketches.py."
    ),
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
        F.count(F.lit(1)).alias("n_daily_sketches"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    # both sides are |event_type| rows — tiny; broadcast the exact twin
    return merged.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "n_daily_sketches",
        "n_users_exact",
        (
            F.abs(F.col("est_users").cast("double") - F.col("n_users_exact").cast("double"))
            <= F.lit(HLL_MERGE_GATE) * F.col("n_users_exact").cast("double")
        ).alias(f"est_within_{int(HLL_MERGE_GATE * 100)}pct"),
    )


@register(
    "agg_mode_per_user",
    oracle="""
WITH counts AS (
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY user_id, event_type
),
ranked AS (
    SELECT user_id, event_type, n,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY n DESC, event_type) AS rk
    FROM counts
)
SELECT user_id, event_type AS mode_type, n AS mode_n
FROM ranked WHERE rk = 1
""",
    doc=(
        "Deterministic mode (most frequent event_type per user): "
        "count-then-argmax with an explicit total-order tiebreak "
        "(count desc, type asc) — mode() built-ins are tie-unstable "
        "across engines and partitionings, so pipelines that need "
        "reproducible labels use this shape. Two-level aggregate: the "
        "(user, type) pre-count collapses the fact table map-side; the "
        "argmax runs over |users| x |types| rows via max_by on a "
        "lexicographic struct — no second shuffle, no window over raw "
        "events."
    ),
)
def agg_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    # argmin on the struct key (-n, type): struct comparison is
    # field-by-field, so the minimum is exactly (count desc, type asc) —
    # the oracle's declared total order
    best = F.min_by(
        F.struct(F.col("event_type").alias("t"), F.col("n").alias("n")),
        F.struct((-F.col("n")).alias("neg_n"), F.col("event_type").alias("t")),
    )
    return (
        counts.groupBy("user_id")
        .agg(best.alias("b"))
        .select("user_id", F.col("b.t").alias("mode_type"), F.col("b.n").alias("mode_n"))
    )


#: rank-error gate for approx_percentile at accuracy=1000: the summary
#: guarantees rank error <= 1/1000 after merges; 0.02 (20x) keeps the
#: boolean TRUE for ANY valid summary regardless of partition merge order
#: (the raw quantile VALUES may legally differ run-to-run, the rank-error
#: property may not)
APPROX_Q_RANK_EPS = 0.02
_APPROX_Q_PROBES = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


@register(
    "agg_approx_quantiles",
    # the sketch's picked elements are partition-order-dependent, so the
    # registered output asserts the sketch's actual CONTRACT instead: for
    # each probed percentile p, the returned value's exact rank fraction
    # must sit within eps of p — a boolean the oracle expects as literal
    # TRUE — plus the exact row count
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       {", ".join(f"TRUE AS {name}_rank_ok" for name, _ in _APPROX_Q_PROBES)}
FROM events
GROUP BY event_type
""",
    doc=(
        "Approximate quantiles per event_type (approx_percentile, "
        "Greenwald-Khanna-style mergeable summary, accuracy 1/1000) — the "
        "at-scale quantile path where exact percentile's full sort-by-key "
        "is unaffordable; the mergeable-summary property is what lets it "
        "run as partial+final over partitions. The picked elements are "
        "merge-order-dependent, so the canonical output verifies the "
        "sketch CONTRACT: each returned value's exact rank fraction is "
        f"within {APPROX_Q_RANK_EPS} of the probed percentile (one extra "
        "pass over the pre-aggregated frame, broadcast of the per-type "
        "quantile row). Raw values are asserted in tests/test_sketches.py."
    ),
)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    q = F.approx_percentile(
        F.col("v"), F.array(*[F.lit(p) for _, p in _APPROX_Q_PROBES]), F.lit(1000)
    )
    approx = ev.groupBy("event_type").agg(
        *[q[i].alias(f"{name}_approx") for i, (name, _) in enumerate(_APPROX_Q_PROBES)]
    )
    ranked = ev.join(F.broadcast(approx), "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            agg
            for name, _ in _APPROX_Q_PROBES
            for agg in (
                F.sum((F.col("v") < F.col(f"{name}_approx")).cast("long")).alias(f"{name}_lt"),
                F.sum((F.col("v") <= F.col(f"{name}_approx")).cast("long")).alias(f"{name}_le"),
            )
        ],
    )
    n = F.col("n_rows").cast("double")
    rank_ok = {
        name: (
            (F.col(f"{name}_lt").cast("double") / n <= F.lit(p + APPROX_Q_RANK_EPS))
            & (F.col(f"{name}_le").cast("double") / n >= F.lit(p - APPROX_Q_RANK_EPS))
        ).alias(f"{name}_rank_ok")
        for name, p in _APPROX_Q_PROBES
    }
    return ranked.select("event_type", "n_rows", *rank_ok.values())


#: heavy keys the skew profile names explicitly
SKEW_TOP_N = 8


@register(
    "agg_key_skew_profile",
    oracle=f"""
WITH counts AS (
    SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           CAST(median(CAST(n AS DOUBLE)) AS DOUBLE) AS p50_key_rows,
           CAST(quantile_cont(CAST(n AS DOUBLE), 0.99) AS DOUBLE) AS p99_key_rows
    FROM counts
),
top AS (
    SELECT CAST(SUM(n) AS BIGINT) AS top_rows
    FROM (SELECT n FROM counts ORDER BY n DESC, user_id LIMIT {SKEW_TOP_N})
)
SELECT t.n_rows, t.n_keys, t.max_key_rows, t.p50_key_rows, t.p99_key_rows,
       CAST(floor(CAST(t.max_key_rows * 1000 * t.n_keys AS DOUBLE) / t.n_rows) AS BIGINT)
           AS max_over_avg_x1000,
       CAST(floor(CAST(p.top_rows * 1000000 AS DOUBLE) / t.n_rows) AS BIGINT)
           AS top{SKEW_TOP_N}_share_ppm
FROM tot t CROSS JOIN top p
""",
    doc=(
        "Join/agg-key skew profile for events.user_id — the diagnostic "
        "that decides BETWEEN the engine's skew tools (AQE skew-join vs "
        "explicit salting vs broadcast): key count, max key occupancy, "
        "exact p50/p99 of the per-key distribution, max-over-average in "
        f"integer permille, and the top-{SKEW_TOP_N} keys' share of all "
        "rows in ppm. One count-of-counts aggregate over the partially "
        "aggregated key frame — the corpus is read once, the heavy-key "
        "head is a bounded TakeOrdered, and every ratio uses the exact-"
        "numerator floor grammar. At 100 TB you run THIS before choosing "
        "a join strategy; a max_over_avg in the thousands is the "
        "signature of a key AQE must split or salting must spread."
    ),
)
def agg_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_key_rows"),
        F.median(F.col("n").cast("double")).alias("p50_key_rows"),
        F.percentile(F.col("n").cast("double"), F.lit(0.99)).alias("p99_key_rows"),
    )
    top = (
        counts.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(SKEW_TOP_N)
        .agg(F.sum("n").cast("long").alias("top_rows"))
    )
    return tot.crossJoin(F.broadcast(top)).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        "p50_key_rows",
        "p99_key_rows",
        F.floor(
            (F.col("max_key_rows") * 1000 * F.col("n_keys")).cast("double")
            / F.col("n_rows")
        )
        .cast("long")
        .alias("max_over_avg_x1000"),
        F.floor((F.col("top_rows") * 1000000).cast("double") / F.col("n_rows"))
        .cast("long")
        .alias(f"top{SKEW_TOP_N}_share_ppm"),
    )

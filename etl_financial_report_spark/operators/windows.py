"""Window / sequence operators (SURVEY.md §2.5).

The reference's positional-list idioms — lookahead ``teks[i+1]``
(mainTesting.py:124,152), page-gap pruning (mainTesting.py:231-238),
backward fill of empty CALK content (mainTesting.py:648-658), take-first
(mainTesting.py:121,314-318) — all become Window functions over an
explicit (partition, order) instead of Python list order. Spark gives no
implicit row order (SURVEY.md §7 hard-part 2), so every query here
declares its ordering columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.finance import money9, money
from ..io import load_table
from ..registry import register

#: note-reference pattern from the reference (mainTesting.py:197):
#: "2", "2a", "2,3b", "12,13a" match; "2A", "102", "a2" do not.
NOTE_PATTERN = r"^(\d{1,2}|(\d{1,2}[a-z])|(\d{1,2}(?:,\d{1,2}[a-z]?)*))$"

#: l_linenumber alone is NOT unique within an order in the driver data; a
#: window ordered by it is not total and engines would disagree on ties.
#: This 5-column suffix of the unique lineitem key makes every sequence
#: window deterministic (same list in Spark and oracle SQL).
LINE_ORDER_COLS = ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"]


@register(
    "w1_lead_lookahead",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       lead(l_quantity, 1) OVER w AS next1,
       lead(l_quantity, 2) OVER w AS next2
FROM lineitem
WHERE l_orderkey < 1000
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice)
""",
    doc="Lead-1/lead-2 lookahead (W1): positional list access as window columns.",
)
def w1_lead_lookahead(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    w = Window.partitionBy("l_orderkey").orderBy(*LINE_ORDER_COLS)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.lead("l_quantity", 1).over(w).alias("next1"),
        F.lead("l_quantity", 2).over(w).alias("next2"),
    )


@register(
    "j2_lead_note_match",
    oracle=r"""
WITH lines AS (
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice,
           CASE WHEN l_linenumber % 3 = 0
                THEN CAST(CAST(l_quantity AS INTEGER) AS VARCHAR) || 'a'
                ELSE 'item line ' || CAST(l_linenumber AS VARCHAR) END AS line
    FROM lineitem
), led AS (
    SELECT *, lead(line, 1) OVER w AS next1, lead(line, 2) OVER w AS next2
    FROM lines
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice)
)
SELECT l_orderkey, l_linenumber, line,
       CASE WHEN regexp_matches(next1, '^(\d{1,2}|(\d{1,2}[a-z])|(\d{1,2}(?:,\d{1,2}[a-z]?)*))$') THEN next1
            WHEN regexp_matches(next2, '^(\d{1,2}|(\d{1,2}[a-z])|(\d{1,2}(?:,\d{1,2}[a-z]?)*))$') THEN next2
            END AS note
FROM led
WHERE CASE WHEN regexp_matches(next1, '^(\d{1,2}|(\d{1,2}[a-z])|(\d{1,2}(?:,\d{1,2}[a-z]?)*))$') THEN next1
           WHEN regexp_matches(next2, '^(\d{1,2}|(\d{1,2}[a-z])|(\d{1,2}(?:,\d{1,2}[a-z]?)*))$') THEN next2
           END IS NOT NULL
""",
    doc=(
        "Positional lookahead + note-reference regex (J2+P5, mainTesting.py:124-152): "
        "lead-1 preferred, lead-2 fallback, note pattern ^\\d{1,2}[a-z]?(,...)*$."
    ),
)
def j2_lead_note_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        *["l_orderkey", *LINE_ORDER_COLS],
        F.when(
            F.col("l_linenumber") % 3 == 0,
            F.concat(F.col("l_quantity").cast("int").cast("string"), F.lit("a")),
        )
        .otherwise(F.concat(F.lit("item line "), F.col("l_linenumber").cast("string")))
        .alias("line"),
    )
    w = Window.partitionBy("l_orderkey").orderBy(*LINE_ORDER_COLS)
    led = lines.select(
        "*",
        F.lead("line", 1).over(w).alias("next1"),
        F.lead("line", 2).over(w).alias("next2"),
    )
    note = F.when(F.col("next1").rlike(NOTE_PATTERN), F.col("next1")).when(
        F.col("next2").rlike(NOTE_PATTERN), F.col("next2")
    )
    return led.select("l_orderkey", "l_linenumber", "line", note.alias("note")).where(
        F.col("note").isNotNull()
    )


@register(
    "w2_gap_prune_runs",
    oracle="""
WITH lines AS (
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity > 25
), flagged AS (
    SELECT *,
           CASE WHEN l_linenumber - lag(l_linenumber) OVER w > 1 THEN 1 ELSE 0 END AS brk
    FROM lines
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice)
), runs AS (
    SELECT *,
           SUM(brk) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
                          ROWS UNBOUNDED PRECEDING) AS run_id
    FROM flagged
)
SELECT l_orderkey, l_linenumber, l_quantity FROM runs WHERE run_id = 0
""",
    doc=(
        "Non-consecutive prune (W2/S6, mainTesting.py:231-238): lag gap -> cumulative "
        "break flag -> keep only the first contiguous run per group."
    ),
)
def w2_gap_prune_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 25)
    w = Window.partitionBy("l_orderkey").orderBy(*LINE_ORDER_COLS)
    flagged = li.select(
        *["l_orderkey", *LINE_ORDER_COLS],
        F.when(F.col("l_linenumber") - F.lag("l_linenumber").over(w) > 1, 1)
        .otherwise(0)
        .alias("brk"),
    )
    run_id = F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        flagged.withColumn("run_id", run_id)
        .where(F.col("run_id") == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "w3_backward_fill",
    oracle="""
SELECT l_orderkey, l_linenumber,
       first_value(CASE WHEN l_quantity >= 10 THEN l_quantity END IGNORE NULLS)
           OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS filled_qty
FROM lineitem
WHERE l_orderkey < 2000
""",
    doc=(
        "Backward fill (W3, mainTesting.py:648-658): empty content takes the next "
        "non-null value — first(ignorenulls) over current..unboundedFollowing."
    ),
)
def w3_backward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(*LINE_ORDER_COLS)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    val = F.when(F.col("l_quantity") >= 10, F.col("l_quantity"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.first(val, ignorenulls=True).over(w).alias("filled_qty"),
    )


@register(
    "w5_take_first",
    oracle="""
SELECT c_custkey, o_orderkey, o_totalprice
FROM (
    SELECT c_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY c_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM customer JOIN orders ON o_custkey = c_custkey
) t
WHERE rn = 1
""",
    doc="Take-first per group (W5, mainTesting.py:121): row_number()==1 with total-order tiebreak.",
)
def w5_take_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "w_rank_surface",
    oracle="""
SELECT c_nationkey, c_custkey,
       rank()       OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4)     OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""",
    doc="Ranking surface (free with Window in the rebuild, SURVEY.md §2.5): rank/dense_rank/ntile.",
)
def w_rank_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_nationkey",
        "c_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "w_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
FROM orders
""",
    doc="Running total per customer (frame-spec aggregate): exact decimal accumulation.",
)
def w_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(money9("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


@register(
    "p2_row_range_filter",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn
    FROM lineitem
) t
WHERE rn > 3
""",
    doc=(
        "Row-range filter (P2, mainTesting.py:54: skip first 3 preamble rows): "
        "explicit order column + row_number — pandas positional order has no Spark default."
    ),
)
def p2_row_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(*LINE_ORDER_COLS)
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") > 3)
        .drop("rn")
    )


@register(
    "w_range_frame",
    oracle="""
WITH daily AS (
    SELECT o_custkey,
           CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS day_total
    FROM orders
    WHERE o_custkey < 200
    GROUP BY 1, 2
)
SELECT o_custkey, day_no,
       CAST(SUM(day_total) OVER (
            PARTITION BY o_custkey ORDER BY day_no
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
FROM daily
""",
    doc=(
        "RANGE-frame window (value-based, not row-based): 7-day trailing "
        "spend per customer — gaps in the day sequence are handled by the "
        "frame spec, no calendar densification needed."
    ),
)
def w_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.finance import money

    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    daily = o.groupBy(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("day_no"),
    ).agg(F.sum(money9("o_totalprice")).alias("day_total"))
    w = Window.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-6, 0)
    return daily.select(
        "o_custkey",
        "day_no",
        F.sum("day_total").over(w).cast("double").alias("trailing_7d"),
    )


#: synthetic fulfillment window: an order is "open" for 30 days from its
#: order date (the testdata has no close-date column; the sweep shape is
#: what matters and is width-agnostic)
OPEN_DAYS = 30


@register(
    "w_interval_sweep",
    oracle=f"""
WITH deltas AS (
    SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM orders
    UNION ALL
    SELECT CAST(o_orderdate AS DATE) + INTERVAL {OPEN_DAYS} DAY, -1 FROM orders
),
per_day AS (
    SELECT day, SUM(delta) AS net, SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS n_opened
    FROM deltas GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(n_opened AS BIGINT) AS n_opened,
       CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_open
FROM per_day
""",
    doc=(
        "Concurrent-interval counting by sweep line: each order emits a +1 "
        "at its start day and a -1 past its 30-day open window; a per-day "
        "pre-aggregate collapses the deltas, then ONE running sum yields "
        "how many orders are open on every day. The O(n log n) alternative "
        "to the O(n x days) interval-overlap join — at 100 TB the join "
        "explodes 30x per fact row, the sweep shuffles |days| rows after "
        "partial aggregation. The final cumulative window is a single "
        "ordered partition, but it runs over the per-day aggregate "
        "(thousands of rows at any data scale), not raw facts."
    ),
)
def w_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    start = orders.select(
        F.to_date("o_orderdate").alias("day"), F.lit(1).alias("delta")
    )
    end = orders.select(
        F.date_add(F.to_date("o_orderdate"), OPEN_DAYS).alias("day"),
        F.lit(-1).alias("delta"),
    )
    per_day = (
        start.unionByName(end)
        .groupBy("day")
        .agg(
            F.sum("delta").alias("net"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_opened"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_opened").cast("long").alias("n_opened"),
        F.sum("net").over(w).cast("long").alias("n_open"),
    )


@register(
    "w_user_streaks",
    oracle="""
WITH du AS (
    SELECT DISTINCT user_id, (epoch_ns(ts) // 1000000000) // 86400 AS day_n
    FROM events
),
grp AS (
    SELECT user_id, day_n,
           day_n - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day_n) AS island
    FROM du
),
streaks AS (
    SELECT user_id, island, COUNT(*) AS streak_len,
           CAST(MIN(day_n) AS BIGINT) AS streak_start
    FROM grp GROUP BY user_id, island
)
SELECT user_id,
       CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(SUM(streak_len) AS BIGINT) AS active_days,
       CAST(MIN(streak_start) AS BIGINT) AS first_day
FROM streaks GROUP BY user_id
""",
    doc=(
        "Gaps-and-islands: longest consecutive-day activity streak per "
        "user via the day_n - row_number() constant-difference trick — "
        "consecutive days share an island id, so streaks fall out of a "
        "plain group-by with NO self-join and NO iteration. One shuffle "
        "on user_id covers the distinct, the ranking window, and both "
        "aggregates; the engagement-streak metric every retention team "
        "ships."
    ),
)
def w_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        "user_id", (F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("day_n")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_n")
    grp = du.select(
        "user_id", "day_n", (F.col("day_n") - F.row_number().over(w)).alias("island")
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len"), F.min("day_n").alias("streak_start")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("streak_len").cast("long").alias("active_days"),
        F.min("streak_start").cast("long").alias("first_day"),
    )


@register(
    "w_priority_transitions",
    oracle="""
WITH seq AS (
    SELECT o_custkey, o_orderpriority,
           LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS prev_priority
    FROM orders
)
SELECT prev_priority, o_orderpriority AS next_priority, COUNT(*) AS n_transitions
FROM seq
WHERE prev_priority IS NOT NULL
GROUP BY prev_priority, next_priority
""",
    doc=(
        "Order-priority transition matrix (first-order Markov counts): lag "
        "over the per-customer order sequence pairs each order with its "
        "predecessor, then one global count per (prev, next) cell — the "
        "sequence-mining dual of scd2_build's change detection (same "
        "window, same total order (date, orderkey), different emission). "
        "25 output cells regardless of order volume; the transition "
        "shuffle is the same custkey exchange the SCD2 family uses."
    ),
)
def w_priority_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_orderpriority", F.lag("o_orderpriority").over(w).alias("prev_priority")
    )
    return (
        seq.where(F.col("prev_priority").isNotNull())
        .groupBy("prev_priority", F.col("o_orderpriority").alias("next_priority"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )

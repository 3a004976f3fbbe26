package graft.queries

import graft.Q
import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Window-function operators (SURVEY.md §2.7 W1-W4, W8-W10). Windows
  * partition by the group key, so at scale each key's rows land in one
  * task — the same shuffle the reference's per-location loops imply,
  * but distributed across executors.
  */
object WindowQueries {

  private def w(s: String*) =
    Window.partitionBy("l_suppkey")
      .orderBy(s.map(col): _*)

  /** W1 lag-1 per group + W2 first difference per group.
    * Ref: covid_simulator.py:411-418 (lag_confirmed, d_removed). */
  private val w1w2 = Q(
    "w1_lag_diff",
    (s, dir) => {
      val win = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      Tables.load(s, dir, "orders")
        .withColumn("lag_price",
          coalesce(lag("o_totalprice", 1).over(win), lit(0.0)))
        .withColumn("d_price", round(col("o_totalprice") - col("lag_price"), 4))
        .select("o_custkey", "o_orderkey", "o_totalprice", "lag_price", "d_price")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
                   coalesce(lag(o_totalprice, 1) OVER w, 0.0) AS lag_price,
                   round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER w, 0.0), 4)
                     AS d_price
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            ORDER BY o_custkey, o_orderkey"""))

  /** W3 trim leading zeros per group: keep rows from the first row
    * where the measure is non-zero onward (running count of non-zeros
    * > 0). Ref: covid_simulator.py:180,270,392 (ne(0).idxmax()). */
  private val w3 = Q(
    "w3_trim_leading",
    (s, dir) => {
      // (l_shipdate, l_orderkey, l_linenumber) is NOT a total order in
      // the testdata (full-duplicate keys with DIFFERENT quantities
      // exist), and the trim predicate depends on tie order: among two
      // tied rows with q>40 and q<=40, whichever the engine happens to
      // sort first decides whether the q<=40 row is "after the first
      // peak" and kept. Green at proof scales by luck; the round-15 sf1
      // audit caught the two engines breaking one such tie differently.
      // l_quantity as the final key makes the window order total in
      // every way the emitted columns can observe (rows tying on all
      // five columns are interchangeable).
      val win = w("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "lineitem")
        .withColumn("seen",
          sum(when(col("l_quantity") > 40, 1).otherwise(0)).over(win))
        .filter(col("seen") > 0)
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity")
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity")
    },
    Some("""SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity
            FROM (
              SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
                sum(CASE WHEN l_quantity > 40 THEN 1 ELSE 0 END) OVER (
                  PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen
              FROM lineitem)
            WHERE seen > 0
            ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                     l_quantity"""))

  /** W4 first non-null per group broadcast to all rows + drop groups
    * where it is absent. Ref: covid_data_transform.py:262-281
    * (population back/forward fill then group drop). */
  private val w4 = Q(
    "w4_first_nonnull_broadcast",
    (s, dir) => {
      val win = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .withColumn("o_null_price",
          when(col("o_totalprice") < 50000, lit(null).cast("double"))
            .otherwise(col("o_totalprice")))
        .withColumn("first_price",
          first("o_null_price", ignoreNulls = true).over(win))
        .filter(col("first_price").isNotNull)
        .select("o_custkey", "o_orderkey", "first_price")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, first_price FROM (
              SELECT o_custkey, o_orderkey,
                first(CASE WHEN o_totalprice < 50000 THEN NULL
                           ELSE o_totalprice END IGNORE NULLS) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                  AS first_price
              FROM orders)
            WHERE first_price IS NOT NULL
            ORDER BY o_custkey, o_orderkey"""))

  /** W8 per-group abs-max normalization, keeping the max for later
    * de-normalization. Ref: weather_pred.py:208,231-233,330-335. */
  private val w8 = Q(
    "w8_absmax_normalize",
    (s, dir) => {
      val win = Window.partitionBy("l_suppkey")
      Tables.load(s, dir, "lineitem")
        .withColumn("absmax", max(abs(col("l_extendedprice"))).over(win))
        .withColumn("price_norm",
          round(col("l_extendedprice") / col("absmax"), 6))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "price_norm", "absmax")
        // (l_suppkey, l_orderkey, l_linenumber) is not unique — add
        // price_norm as tiebreaker for a total order on both engines.
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "price_norm")
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
                   round(l_extendedprice / absmax, 6) AS price_norm, absmax
            FROM (
              SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                max(abs(l_extendedprice)) OVER (PARTITION BY l_suppkey) AS absmax
              FROM lineitem)
            ORDER BY l_suppkey, l_orderkey, l_linenumber, price_norm"""))

  /** W9 sliding-window feature extraction: trailing k-element array of
    * past values + current value as the label (the 365-lag LSTM
    * training samples, shrunk to k=5 for the testdata).
    * Ref: weather_pred.py:91-103,290-297. */
  private val w9 = Q(
    "w9_sliding_window_features",
    (s, dir) => {
      val win = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      Tables.load(s, dir, "orders")
        .withColumn("features",
          collect_list(col("o_totalprice")).over(win.rowsBetween(-5, -1)))
        .filter(size(col("features")) === 5)
        .withColumn("label", col("o_totalprice"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(aggregate(col("features"), lit(0.0), (a, x) => a + x), 4)
            .as("feat_sum"),
          col("label"))
        .orderBy("o_custkey", "o_orderkey")
    },
    // DuckDB checks the same window via an explicit 5-lag sum (list
    // aggregation order in DuckDB windows is engine-defined, so the
    // oracle compares the order-insensitive feature sum + label).
    // count(o_totalprice), not count(*): collect_list skips NULLs, so
    // the admission predicate must count non-null values only.
    Some("""SELECT o_custkey, o_orderkey, feat_sum, label FROM (
              SELECT o_custkey, o_orderkey,
                count(o_totalprice) OVER w5 AS nf,
                round(sum(o_totalprice) OVER w5, 4) AS feat_sum,
                o_totalprice AS label
              FROM orders
              WINDOW w5 AS (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
            WHERE nf = 5 ORDER BY o_custkey, o_orderkey"""))

  /** W10 date-sequence generation (pd.date_range → calendar frame).
    * Ref: covid_simulator.py:340-342. */
  private val w10 = Q(
    "w10_date_sequence",
    (s, dir) => {
      s.sql("""SELECT explode(sequence(to_date('2020-02-22'),
                                       date_add(to_date('2020-02-22'), 179),
                                       interval 1 day)) AS cal_date""")
        .withColumn("date_idx",
          datediff(col("cal_date"), to_date(lit("2020-02-22"))))
        .orderBy("cal_date")
    },
    Some("""SELECT CAST(d AS DATE) AS cal_date,
                   datediff('day', DATE '2020-02-22', CAST(d AS DATE)) AS date_idx
            FROM generate_series(DATE '2020-02-22',
                                 DATE '2020-02-22' + INTERVAL 179 DAY,
                                 INTERVAL 1 DAY) AS t(d)
            ORDER BY 1"""))

  /** W11 (beyond the reference): event-time RANGE window — rolling
    * 7-day sum/count per supplier, frame defined by the ORDER BY value
    * (epoch seconds), not row position, so sparse/dense series get the
    * same semantics. One shuffle on the partition key at any scale.
    */
  private val w11 = Q(
    "w11_range_interval",
    (s, dir) => {
      // shipdate is TIMESTAMP_NTZ; session TZ is pinned UTC, so the
      // ntz→ltz hop is an identity and the long is epoch seconds
      val sec = col("l_shipdate").cast("timestamp").cast("long")
      val win = Window.partitionBy("l_suppkey").orderBy(sec)
        .rangeBetween(-7L * 86400, 0)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 50)
        .withColumn("qty_7d", round(sum("l_quantity").over(win), 4))
        .withColumn("n_7d", count(lit(1)).over(win))
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity", "qty_7d", "n_7d")
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity")
    },
    Some("""SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                   l_quantity,
                   round(sum(l_quantity) OVER w, 4) AS qty_7d,
                   count(*) OVER w AS n_7d
            FROM lineitem WHERE l_suppkey <= 50
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate
              RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
            ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                     l_quantity"""))

  /** W12 (beyond the reference): ntile quartile bucketing per group +
    * per-bucket stats, rolled up per (nation-of-supplier-ish key,
    * tile). Only the bucketed measure is aggregated, so position ties
    * among identical values cannot change the result. The window
    * partitions on l_suppkey (high cardinality) — an ntile over a
    * 3-value key would funnel the whole table through 3 sort tasks,
    * the classic low-cardinality-window scale trap.
    */
  private val w12 = Q(
    "w12_ntile_quartile",
    (s, dir) => {
      val win = Window.partitionBy("l_suppkey")
        .orderBy("l_quantity", "l_orderkey", "l_linenumber",
          "l_extendedprice")
      Tables.load(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 200) // partition-key filter: scan-level
        .withColumn("tile", ntile(4).over(win))
        .groupBy("l_suppkey", "tile")
        .agg(count(lit(1)).as("n"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(min("l_quantity"), 4).as("min_qty"),
          round(max("l_quantity"), 4).as("max_qty"))
        .orderBy("l_suppkey", "tile")
    },
    Some("""SELECT l_suppkey, tile, count(*) AS n,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(min(l_quantity), 4) AS min_qty,
                   round(max(l_quantity), 4) AS max_qty
            FROM (
              SELECT l_suppkey, l_quantity,
                ntile(4) OVER (PARTITION BY l_suppkey
                  ORDER BY l_quantity, l_orderkey, l_linenumber,
                           l_extendedprice) AS tile
              FROM lineitem WHERE l_suppkey <= 200)
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** W13 (beyond the reference): the rank-function family — rank,
    * dense_rank, percent_rank, cume_dist — in one window pass. Ties on
    * the order value share ranks identically in both engines, so the
    * output is deterministic without a total order inside the frame.
    */
  private val w13 = Q(
    "w13_rank_functions",
    (s, dir) => {
      val win = Window.partitionBy("o_custkey").orderBy("o_totalprice")
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .withColumn("rk", rank().over(win))
        .withColumn("drk", dense_rank().over(win))
        .withColumn("prank", round(percent_rank().over(win), 6))
        .withColumn("cdist", round(cume_dist().over(win), 6))
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk", "drk",
          "prank", "cdist")
        .orderBy("o_custkey", "o_totalprice", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
                   rank() OVER w AS rk,
                   dense_rank() OVER w AS drk,
                   round(percent_rank() OVER w, 6) AS prank,
                   round(cume_dist() OVER w, 6) AS cdist
            FROM orders
            WHERE o_custkey <= 100
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice)
            ORDER BY o_custkey, o_totalprice, o_orderkey"""))

  /** W14 (beyond the reference): first_value / last_value / nth_value
    * over the full partition frame — the "group's first/last/second
    * observation broadcast to every row" family (the reference's W4
    * first-non-null is the ignoreNulls cousin).
    */
  private val w14 = Q(
    "w14_first_last_nth",
    (s, dir) => {
      val full = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .withColumn("first_price", first("o_totalprice").over(full))
        .withColumn("last_price", last("o_totalprice").over(full))
        .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(full))
        .select("o_custkey", "o_orderkey", "o_totalprice", "first_price",
          "last_price", "second_price")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
                   first_value(o_totalprice) OVER w AS first_price,
                   last_value(o_totalprice) OVER w AS last_price,
                   nth_value(o_totalprice, 2) OVER w AS second_price
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_custkey, o_orderkey"""))

  /** W15 (beyond the reference): gaps-and-islands — maximal runs of
    * consecutive same-valued rows per key (here: consecutive events of
    * one event_type per user), the classic change-detection shape:
    * lag → change flag → running sum = island id → one aggregate per
    * island. Two window passes over the SAME partition key, so one
    * shuffle total; the island aggregate reuses the partitioning.
    */
  private val w15 = Q(
    "w15_gaps_islands",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("chg",
          when(lag("event_type", 1).over(w).isNull ||
            lag("event_type", 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("island", sum("chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "island", "event_type")
        .agg(count(lit(1)).as("run_len"),
          round(sum("value"), 4).as("run_value"))
        .filter(col("run_len") >= 3)
        .orderBy("user_id", "island")
    },
    Some("""WITH flagged AS (
              SELECT user_id, event_id, ts, event_type, value,
                CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                     THEN 1 ELSE 0 END AS chg
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            islands AS (
              SELECT user_id, event_type, value,
                CAST(sum(chg) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
              FROM flagged)
            SELECT user_id, island, event_type,
                   count(*) AS run_len,
                   round(sum(value), 4) AS run_value
            FROM islands GROUP BY 1, 2, 3
            HAVING count(*) >= 3
            ORDER BY user_id, island"""))

  /** W16 (beyond the reference): cumulative DISTINCT count — running
    * total of distinct purchasing users per day. Spark has no
    * distinct-over-expanding-window aggregate; the scalable spelling is
    * the first-occurrence reduction: per-user min(day) (one
    * user-keyed shuffle), daily new-user counts, then a running sum
    * over the DAY-cardinality rollup (the global window sorts days,
    * not events — 30 rows here, bounded by calendar length at any
    * corpus scale). Joined with per-day active counts for context.
    */
  private val w16 = Q(
    "w16_cumulative_distinct",
    (s, dir) => {
      // ev feeds both the active-day counts and the first-day reduction
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val daily = ev.distinct()
        .groupBy("day").agg(count(lit(1)).as("n_active"))
      val firstDays = ev.groupBy("user_id").agg(min("day").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(firstDays, Seq("day"), "left")
        .na.fill(0L, Seq("n_new"))
        .withColumn("cum_distinct_users", sum("n_new").over(w))
        .select("day", "n_active", "n_new", "cum_distinct_users")
        .orderBy("day")
    },
    Some("""WITH ev AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
              FROM events WHERE event_type = 'purchase'),
            daily AS (
              SELECT day, count(*) AS n_active FROM ev GROUP BY 1),
            firstd AS (
              SELECT day, count(*) AS n_new FROM (
                SELECT user_id, min(day) AS day FROM ev GROUP BY 1)
              GROUP BY 1)
            SELECT d.day, d.n_active,
                   coalesce(f.n_new, 0) AS n_new,
                   CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS cum_distinct_users
            FROM daily d LEFT JOIN firstd f USING (day)
            ORDER BY d.day"""))

  /** W17 (beyond the reference): running maximum + drawdown — the
    * peak-to-current decline over an expanding frame, the classic
    * monitoring statistic (order values here; loss curves or QPS in a
    * pipeline). One window pass per partition key.
    */
  private val w17 = Q(
    "w17_running_max_drawdown",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 200)
        .withColumn("peak", max("o_totalprice").over(w))
        .withColumn("drawdown",
          round((col("peak") - col("o_totalprice")) / col("peak"), 4))
        .select("o_custkey", "o_orderkey", "o_totalprice", "peak", "drawdown")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
                   max(o_totalprice) OVER w AS peak,
                   round((max(o_totalprice) OVER w - o_totalprice)
                     / max(o_totalprice) OVER w, 4) AS drawdown
            FROM orders WHERE o_custkey <= 200
            WINDOW w AS (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              ROWS UNBOUNDED PRECEDING)
            ORDER BY o_custkey, o_orderkey"""))

  /** W18 (beyond the reference): resample to a regular daily grid +
    * forward fill — the time-series regularization step (the reference
    * interpolates gaps per location, W5; this is the calendar-spine
    * variant): per customer, a generated day spine from first to last
    * order date left-joins the actual daily totals, and missing days
    * take the last observed value (last_value IGNORE NULLS over an
    * expanding frame). Spine generation is sequence()-per-key — no
    * driver loop — and the fill is one window pass.
    */
  private val w18 = Q(
    "w18_resample_ffill",
    (s, dir) => {
      // daily feeds both the spine bounds and the fill join
      val daily = Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
        .agg(round(sum("o_totalprice"), 4).as("day_total"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val spine = daily.groupBy("o_custkey")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("o_custkey"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy("o_custkey").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("o_custkey", "day"), "left")
        .withColumn("filled_total",
          last("day_total", ignoreNulls = true).over(w))
        .withColumn("is_observed", col("day_total").isNotNull.cast("int"))
        .select("o_custkey", "day", "filled_total", "is_observed")
        .orderBy("o_custkey", "day")
    },
    Some("""WITH daily AS (
              SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
                     round(sum(o_totalprice), 4) AS day_total
              FROM orders WHERE o_custkey <= 50 GROUP BY 1, 2),
            spine AS (
              SELECT o_custkey,
                unnest(generate_series(min(day), max(day),
                  INTERVAL 1 DAY))::DATE AS day
              FROM daily GROUP BY o_custkey)
            SELECT s.o_custkey, s.day,
                   last_value(d.day_total IGNORE NULLS) OVER (
                     PARTITION BY s.o_custkey ORDER BY s.day
                     ROWS UNBOUNDED PRECEDING) AS filled_total,
                   CAST(d.day_total IS NOT NULL AS INT) AS is_observed
            FROM spine s LEFT JOIN daily d USING (o_custkey, day)
            ORDER BY s.o_custkey, s.day"""))

  /** W22 (beyond the reference): exact rolling median over full 5-row
    * windows per user — the robust smoother for spiky telemetry.
    * Restricting to FULL windows keeps the count odd, so the median is
    * pure element selection (sort 5 values, take the 3rd): zero
    * floating-point arithmetic, bit-identical cross-engine by
    * construction. The per-row sort touches 5 elements — O(1) — and
    * the window partitions on the high-cardinality user key.
    */
  private val w22 = Q(
    "w22_rolling_median",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("win",
          collect_list("value").over(w.rowsBetween(-4, 0)))
        .filter(col("rn") >= 5)
        .select(col("user_id"), col("event_id"),
          element_at(sort_array(col("win")), 3).as("med5"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH base AS (
              SELECT user_id, event_id,
                row_number() OVER w AS rn,
                list_sort(list(value) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))[3] AS med5
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, event_id, med5
            FROM base WHERE rn >= 5
            ORDER BY user_id, event_id"""))

  /** W23 (beyond the reference): Theil–Sen robust trend per user —
    * the median of all pairwise slopes (v_j − v_i)/(j − i) over the
    * user's event sequence, immune to outliers that wreck OLS. Each
    * slope is ONE IEEE division (exact-integer index gap); the median
    * is DISCRETE selection at rank (n_pairs+1) div 2 under a TOTAL
    * order (slope, i, j) — no FP averaging anywhere. The O(n²) pair
    * join is per-user (bounded by the longest single history, the
    * standard cost of exact Theil-Sen); users distribute freely.
    */
  private val w23 = Q(
    "w23_theil_sen",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val seq0 = Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .select(col("user_id"), col("rn"), col("value"))
      val pairs = seq0.as("a").join(seq0.as("b"), Seq("user_id"))
        .filter(col("a.rn") < col("b.rn"))
        .select(col("user_id"), col("a.rn").as("i"), col("b.rn").as("j"),
          ((col("b.value") - col("a.value")) /
            (col("b.rn") - col("a.rn")).cast("double")).as("slope"))
      val wRank = Window.partitionBy("user_id")
        .orderBy(col("slope"), col("i"), col("j"))
      pairs
        .withColumn("rk", row_number().over(wRank))
        .withColumn("np",
          count(lit(1)).over(Window.partitionBy("user_id")))
        .filter(col("rk") === expr("(np + 1) DIV 2"))
        .select(col("user_id"), col("np").as("n_pairs"),
          col("slope").as("ts_slope"))
        .orderBy("user_id")
    },
    Some("""WITH seq0 AS (
              SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS rn
              FROM events),
            pairs AS (
              SELECT a.user_id, a.rn AS i, b.rn AS j,
                     (b.value - a.value) /
                       CAST(b.rn - a.rn AS DOUBLE) AS slope
              FROM seq0 a JOIN seq0 b
                ON a.user_id = b.user_id AND a.rn < b.rn),
            ranked AS (
              SELECT user_id, slope,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY slope, i, j) AS rk,
                CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                  AS np
              FROM pairs)
            SELECT user_id, np AS n_pairs, slope AS ts_slope
            FROM ranked WHERE rk = (np + 1) // 2
            ORDER BY user_id"""))

  /** W24 (beyond the reference): min/max plot downsampling — per user,
    * fixed 16-row buckets keep exactly their extreme rows (earliest
    * row wins value ties), the standard lossless-extremes reduction a
    * charting layer runs before shipping points to a browser. Pure
    * rank selection under total orders — zero arithmetic beyond the
    * integer bucket id — and the per-user window distributes on the
    * high-cardinality key.
    */
  private val w24 = Q(
    "w24_minmax_downsample",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val bucketed = Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("bucket", expr("(rn - 1) DIV 16"))
      val wMin = Window.partitionBy("user_id", "bucket")
        .orderBy(col("value").asc, col("rn").asc)
      val wMax = Window.partitionBy("user_id", "bucket")
        .orderBy(col("value").desc, col("rn").asc)
      val mins = bucketed
        .withColumn("rk", row_number().over(wMin))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("bucket"), col("rn"), col("value"),
          lit("min").as("kind"))
      val maxs = bucketed
        .withColumn("rk", row_number().over(wMax))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("bucket"), col("rn"), col("value"),
          lit("max").as("kind"))
      mins.unionByName(maxs)
        .orderBy("user_id", "bucket", "kind", "rn")
    },
    Some("""WITH bucketed AS (
              SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS rn
              FROM events),
            bk AS (
              SELECT user_id, value, rn, (rn - 1) // 16 AS bucket
              FROM bucketed),
            mins AS (
              SELECT user_id, bucket, rn, value, 'min' AS kind
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id, bucket
                      ORDER BY value ASC, rn ASC) AS rk FROM bk)
              WHERE rk = 1),
            maxs AS (
              SELECT user_id, bucket, rn, value, 'max' AS kind
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id, bucket
                      ORDER BY value DESC, rn ASC) AS rk FROM bk)
              WHERE rk = 1)
            SELECT * FROM mins
            UNION ALL
            SELECT * FROM maxs
            ORDER BY user_id, bucket, kind, rn"""))

  /** W25 (X193, beyond the reference): ROLLING Z-SCORE anomaly flag —
    * is a reading >3σ from the mean of its user's 8 previous readings?
    * The monitoring primitive behind drift alerts, expressed with ZERO
    * floating point: values in exact cents, trailing sums S=Σx and
    * Q=Σx² as BIGINTs over a ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING
    * frame (full windows only, the w22 convention), and the 3σ gate
    * cross-multiplied to integers — z² > 9 ⟺ (n·x − S)² > 9·(n·Q − S²)
    * — so a value landing exactly ON the gate cannot flip between
    * engines (playbook: compare ratio thresholds in integers). Trailing
    * frame excludes the current row, so an anomaly cannot mask itself.
    * One shuffle on user_id shared by the window and the rollup.
    */
  private val w25 = Q(
    "w25_rolling_zscore_anomaly",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-8, -1)
      Tables.load(s, dir, "events")
        .withColumn("c", round(col("value") * 100).cast("long"))
        .withColumn("sw", sum("c").over(w))
        .withColumn("qw", sum(col("c") * col("c")).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("cnt") === 8)
        .withColumn("num", lit(8L) * col("c") - col("sw"))
        .withColumn("anom", col("num") * col("num") >
          lit(9L) * (lit(8L) * col("qw") - col("sw") * col("sw")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("anom"), 1L).otherwise(0L)).as("n_anomalies"),
          coalesce(min(when(col("anom"), col("event_id"))), lit(-1L))
            .as("first_anom_event"))
        .orderBy("user_id")
    },
    Some("""WITH base AS (
              SELECT user_id, event_id, ts,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            win AS (
              SELECT user_id, event_id, c,
                     CAST(sum(c) OVER w AS BIGINT) AS sw,
                     CAST(sum(c * c) OVER w AS BIGINT) AS qw,
                     count(*) OVER w AS cnt
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
            f AS (
              SELECT user_id, event_id,
                     8 * c - sw AS num, sw, qw
              FROM win WHERE cnt = 8)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_eval,
                   CAST(sum(CASE WHEN num * num > 9 * (8 * qw - sw * sw)
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_anomalies,
                   CAST(coalesce(min(CASE
                       WHEN num * num > 9 * (8 * qw - sw * sw)
                       THEN event_id END), -1) AS BIGINT)
                     AS first_anom_event
            FROM f GROUP BY 1 ORDER BY 1"""))

  /** W26 (X198, beyond the reference): CLASSICAL SEASONAL DECOMPOSITION
    * of the hourly event-count series — trend (centered 24-hour moving
    * average), seasonal (per hour-of-day mean of the detrended series),
    * residual — the additive y = T + S + R decomposition a capacity
    * planner runs before anomaly thresholds.
    *
    * Exact-arithmetic construction (no FP summation anywhere): counts
    * are BIGINT, the 24-term trend window keeps its integer SUM (trend
    * = sw/24 as display only), the detrended series is carried ×24
    * (`24c − sw`, an exact integer), the seasonal mean is the exact
    * integer Σ(24c − sw) divided ONCE by 24·n_h, and the residual is
    * the exact integer (24c − sw)·n_h − Σ, divided ONCE by 24·n_h —
    * so every output double is one division of two bit-identical
    * integers on both engines. Interior rows only (full 24-row
    * windows): edge rows with partial windows would make the
    * denominators row-dependent. Scale: one groupBy(hour) shuffle, one
    * series-sized window sort, a 24-row broadcast back.
    */
  private val w26 = Q(
    "w26_seasonal_decompose",
    (s, dir) => {
      val ser = Tables.load(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      // series-sized (|hours|), single sort task is the right plan
      val w = Window.orderBy("hr").rowsBetween(-12, 11)
      val det = ser
        .withColumn("sw", sum("c").over(w))
        .withColumn("cw", count(lit(1)).over(w))
        .filter(col("cw") === 24)
        .withColumn("det24", col("c") * 24 - col("sw"))
        .withColumn("hod", hour(col("hr")))
      val seas = det.groupBy("hod")
        .agg(sum("det24").as("sdet"), count(lit(1)).as("nh"))
      det.join(broadcast(seas), "hod")
        .select(col("hr"), col("c"),
          (col("sw").cast("double") / 24d).as("trend"),
          (col("sdet").cast("double")
            / (col("nh") * 24).cast("double")).as("seasonal"),
          ((col("det24") * col("nh") - col("sdet")).cast("double")
            / (col("nh") * 24).cast("double")).as("resid"))
        .orderBy("hr")
    },
    Some("""WITH ser AS (
              SELECT date_trunc('hour', ts) AS hr,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1),
            tr AS (
              SELECT hr, c,
                     CAST(sum(c) OVER w AS BIGINT) AS sw,
                     count(*) OVER w AS cw
              FROM ser
              WINDOW w AS (ORDER BY hr
                ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
            det AS (
              SELECT hr, c, sw, c * 24 - sw AS det24,
                     hour(hr) AS hod
              FROM tr WHERE cw = 24),
            seas AS (
              SELECT hod, CAST(sum(det24) AS BIGINT) AS sdet,
                     CAST(count(*) AS BIGINT) AS nh
              FROM det GROUP BY 1)
            SELECT d.hr, d.c,
                   CAST(sw AS DOUBLE) / 24 AS trend,
                   CAST(sdet AS DOUBLE) / (nh * 24) AS seasonal,
                   CAST(det24 * nh - sdet AS DOUBLE) / (nh * 24) AS resid
            FROM det d JOIN seas s USING (hod)
            ORDER BY d.hr"""))

  /** W28 (X206, beyond the reference): BINARY-SEGMENTATION CHANGEPOINT —
    * per user, the single best split of the value sequence: the t
    * maximizing the between-segments sum-of-squares
    * n₁n₂(μ₁−μ₂)²/n = (n·S_t − t·S_n)² / (t·(n−t)·n) — the first step
    * of the classical binary-segmentation changepoint detector (and the
    * F-statistic numerator of a one-way two-group ANOVA at every t).
    * Determinism: values in exact integer cents, prefix sums S_t via
    * one window pass, d = n·S_t − t·S_n an EXACT int64 (≤ 2^45 here);
    * the statistic is d²/(t(n−t)) evaluated as one double multiply +
    * one division in pinned order (d² may exceed 2^53 — then it is the
    * same correctly-rounded product on both engines), and the argmax is
    * a row_number under the TOTAL order (stat desc, t asc) — so the
    * winning split, not just its score, is hash-stable. One shuffle on
    * user_id; candidates stay inside their partition.
    */
  private val w28 = Q(
    "w28_binseg_changepoint",
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val base = Tables.load(s, dir, "events")
        .withColumn("c", round(col("value") * 100).cast("long"))
        .withColumn("t", row_number().over(wOrd))
        .withColumn("st", sum("c").over(wOrd))
      val wAll = Window.partitionBy("user_id")
      val cand = base
        .withColumn("n", max("t").over(wAll))
        .withColumn("sn", max(struct(col("t"), col("st"))).over(wAll)
          .getField("st"))
        .filter(col("t") < col("n"))
        .withColumn("d", col("n") * col("st") - col("t") * col("sn"))
        .withColumn("stat",
          (col("d").cast("double") * col("d").cast("double"))
            / (col("t") * (col("n") - col("t"))).cast("double"))
      val wPick = Window.partitionBy("user_id")
        .orderBy(col("stat").desc, col("t").asc)
      cand.withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("n").cast("long").as("n"),
          col("t").cast("long").as("split_t"),
          (col("st").cast("double") / col("t").cast("double"))
            .as("mean_left"),
          ((col("sn") - col("st")).cast("double")
            / (col("n") - col("t")).cast("double")).as("mean_right"),
          col("stat"))
        .orderBy("user_id")
    },
    Some("""WITH base AS (
              SELECT user_id,
                     CAST(round(value * 100) AS BIGINT) AS c,
                     row_number() OVER w AS t,
                     CAST(sum(CAST(round(value * 100) AS BIGINT))
                       OVER w AS BIGINT) AS st
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            tot AS (
              SELECT user_id, CAST(max(t) AS BIGINT) AS n,
                     CAST(max_by(st, t) AS BIGINT) AS sn
              FROM base GROUP BY 1),
            cand AS (
              SELECT b.user_id, b.t, b.st, o.n, o.sn,
                     o.n * b.st - b.t * o.sn AS d
              FROM base b JOIN tot o USING (user_id)
              WHERE b.t < o.n),
            scored AS (
              SELECT user_id, t, st, n, sn,
                     (CAST(d AS DOUBLE) * CAST(d AS DOUBLE))
                       / CAST(t * (n - t) AS DOUBLE) AS stat,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY (CAST(d AS DOUBLE) * CAST(d AS DOUBLE))
                         / CAST(t * (n - t) AS DOUBLE) DESC, t ASC) AS rk
              FROM cand)
            SELECT user_id, n, t AS split_t,
                   CAST(st AS DOUBLE) / CAST(t AS DOUBLE) AS mean_left,
                   CAST(sn - st AS DOUBLE) / CAST(n - t AS DOUBLE)
                     AS mean_right,
                   stat
            FROM scored WHERE rk = 1
            ORDER BY user_id"""))

  /** X211 w30: Savitzky–Golay smoothing (quadratic fit, window 5) of
    * each user's event-value series — the polynomial-preserving filter
    * (unlike a moving average, it passes quadratics through unchanged),
    * with the classic INTEGER coefficient row (−3, 12, 17, 12, −3)/35.
    * Values carried as exact cents so the 5-tap convolution numerator
    * is exact BIGINT; the smoothed value is ONE division by 35.0.
    * Interior (full-window) rows only, so every output row uses all
    * five taps. Scale: one user-keyed shuffle, 4 frame taps per row —
    * a pure window pass, no joins.
    */
  private val w30 = Q(
    "w30_savitzky_golay",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wAll = Window.partitionBy("user_id")
      Tables.load(s, dir, "events")
        .withColumn("c", round(col("value") * 100).cast("long"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("num",
          lit(-3L) * lag("c", 2).over(w) + lit(12L) * lag("c", 1).over(w)
            + lit(17L) * col("c") + lit(12L) * lead("c", 1).over(w)
            - lit(3L) * lead("c", 2).over(w))
        .filter(col("rn") >= 3 && col("rn") <= col("n") - 2)
        .select(col("user_id"), col("event_id"), col("c").as("cents"),
          col("num"), (col("num").cast("double") / 35.0).as("smoothed"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH base AS (
              SELECT user_id, event_id,
                     CAST(round(value * 100) AS BIGINT) AS c,
                     row_number() OVER w AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n,
                     lag(CAST(round(value * 100) AS BIGINT), 2) OVER w AS l2,
                     lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS l1,
                     lead(CAST(round(value * 100) AS BIGINT), 1) OVER w AS f1,
                     lead(CAST(round(value * 100) AS BIGINT), 2) OVER w AS f2
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, event_id, c AS cents,
                   CAST(-3 * l2 + 12 * l1 + 17 * c + 12 * f1 - 3 * f2
                     AS BIGINT) AS num,
                   CAST(-3 * l2 + 12 * l1 + 17 * c + 12 * f1 - 3 * f2
                     AS DOUBLE) / 35.0 AS smoothed
            FROM base
            WHERE rn >= 3 AND rn <= n - 2
            ORDER BY user_id, event_id"""))

  /** Each event's cents, its rank `rk` in (cents, event_id) order
    * within its user and the user's event count `n`: the order
    * statistics w31 and w32 read by rank. */
  private def rankedCents(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("user_id").orderBy("cents", "event_id")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))

  /** The oracle's `base` CTE of [[rankedCents]]. */
  private val duckRankedCents =
    """WITH base AS (
              SELECT user_id, event_id,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     row_number() OVER wo AS rk,
                     count(*) OVER wa AS n
              FROM events
              WINDOW wo AS (PARTITION BY user_id ORDER BY
                              CAST(round(value * 100) AS BIGINT), event_id),
                     wa AS (PARTITION BY user_id))"""

  /** X220 w31: WINSORIZED mean per user (clamp at the discrete p5/p95
    * order statistics, then average) — the robust-mean companion to
    * dq6's IQR fencing: instead of DROPPING outliers it CLAMPS them,
    * so n is preserved. Bounds are the rank-⌈n/20⌉ and rank-⌈19n/20⌉
    * cents values (integer-division indices, no interpolation — the
    * e34 device); the clamped sum is exact BIGINT and the two means
    * are single divisions. The value at a rank is well-defined under
    * ties because ranking orders by the value itself. One user-keyed
    * shuffle shared by both window passes and the final aggregate.
    */
  private val w31 = Q(
    "w31_winsorized_mean",
    (s, dir) => {
      val wAll = Window.partitionBy("user_id")
      rankedCents(s, dir)
        .withColumn("lo_c",
          max(when(col("rk") === expr("(n + 19) div 20"), col("cents")))
            .over(wAll))
        .withColumn("hi_c",
          max(when(col("rk") === expr("(19 * n + 19) div 20"), col("cents")))
            .over(wAll))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          min("lo_c").as("lo_cents"), min("hi_c").as("hi_cents"),
          sum("cents").as("raw_sum"),
          sum(greatest(least(col("cents"), col("hi_c")), col("lo_c")))
            .as("win_sum"))
        .select(col("user_id"), col("n"), col("lo_cents"), col("hi_cents"),
          col("raw_sum"), col("win_sum"),
          (col("raw_sum").cast("double") / col("n").cast("double"))
            .as("raw_mean"),
          (col("win_sum").cast("double") / col("n").cast("double"))
            .as("win_mean"))
        .orderBy("user_id")
    },
    Some(duckRankedCents + """,
            bounds AS (
              SELECT user_id, event_id, cents, n,
                     max(CASE WHEN rk = (n + 19) // 20 THEN cents END)
                       OVER (PARTITION BY user_id) AS lo_c,
                     max(CASE WHEN rk = (19 * n + 19) // 20 THEN cents END)
                       OVER (PARTITION BY user_id) AS hi_c
              FROM base)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   min(lo_c) AS lo_cents, min(hi_c) AS hi_cents,
                   CAST(sum(cents) AS BIGINT) AS raw_sum,
                   CAST(sum(greatest(least(cents, hi_c), lo_c)) AS BIGINT)
                     AS win_sum,
                   CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS raw_mean,
                   CAST(sum(greatest(least(cents, hi_c), lo_c)) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS win_mean
            FROM bounds GROUP BY user_id ORDER BY user_id"""))

  /** X230 w32: MEDIAN-ABSOLUTE-DEVIATION anomaly fence per user — the
    * fully-robust outlier gate completing the trio with dq6 (IQR drop)
    * and w31 (winsorize): median and MAD have 50% breakdown points, so
    * unlike the w25 z-score the fence itself cannot be dragged by the
    * outliers it hunts. Both medians are DISCRETE rank-⌈n/2⌉ order
    * statistics via the w31/e34 integer-division-rank device: the
    * per-user cents median from one ranked pass, then the median of the
    * (exact BIGINT) absolute deviations from a second ranked pass over
    * the SAME user-keyed shuffle. The flag |x−med| > 3·MAD compares in
    * integers — no 1.4826 float scaling, no tolerance. Scale: one
    * hash-partition shuffle on user_id shared by both window passes and
    * the final aggregate; per-user work is sort-local.
    */
  private val w32 = Q(
    "w32_mad_anomaly",
    (s, dir) => {
      val wAll = Window.partitionBy("user_id")
      val base = rankedCents(s, dir)
        .withColumn("med_c",
          max(when(col("rk") === expr("(n + 1) div 2"), col("cents")))
            .over(wAll))
        .withColumn("dev", abs(col("cents") - col("med_c")))
      val wDev = Window.partitionBy("user_id").orderBy("dev", "event_id")
      base
        .withColumn("rk2", row_number().over(wDev))
        .withColumn("mad_c",
          max(when(col("rk2") === expr("(n + 1) div 2"), col("dev")))
            .over(wAll))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          min("med_c").as("med_cents"),
          min("mad_c").as("mad_cents"),
          max("dev").as("max_dev"),
          sum(when(col("dev") > lit(3L) * col("mad_c"), 1L).otherwise(0L))
            .as("n_anomalies"))
        .orderBy("user_id")
    },
    Some(duckRankedCents + """,
            med AS (
              SELECT user_id, event_id, cents, n,
                     max(CASE WHEN rk = (n + 1) // 2 THEN cents END)
                       OVER (PARTITION BY user_id) AS med_c
              FROM base),
            dev AS (
              SELECT user_id, event_id, cents, n, med_c,
                     abs(cents - med_c) AS dv,
                     row_number() OVER (PARTITION BY user_id ORDER BY
                       abs(cents - med_c), event_id) AS rk2
              FROM med),
            mad AS (
              SELECT user_id, event_id, dv, med_c,
                     max(CASE WHEN rk2 = (n + 1) // 2 THEN dv END)
                       OVER (PARTITION BY user_id) AS mad_c
              FROM dev)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   min(med_c) AS med_cents,
                   min(mad_c) AS mad_cents,
                   max(dv) AS max_dev,
                   CAST(sum(CASE WHEN dv > 3 * mad_c THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_anomalies
            FROM mad GROUP BY user_id ORDER BY user_id"""))

  /** X239 w33: PER-USER OLS TREND (least-squares slope/intercept of
    * spend over event index) — the classical-regression companion to
    * w23's robust Theil–Sen: one closed-form fit per user from FOUR
    * exact-BIGINT sufficient statistics (n, Σt, Σt·y, Σy with t the
    * 1-based event rank and y exact cents; Σt and Σt² are then exact
    * by formula, never summed). Slope and intercept are pinned IEEE
    * chains over those integers — hash-exact, the m39 convention.
    * Scale: ONE user-keyed shuffle (rank pass + aggregate); at sf10 a
    * per-user n of ~10⁵ keeps nΣty < 2^63 — beyond that the stats
    * columns widen to decimal(38,0) mechanically. No matrix solve:
    * simple regression is a 4-number reduce per key.
    */
  private val w33 = Q(
    "w33_ols_trend",
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val stats = Tables.load(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_y"),
          sum(col("t") * col("cents")).as("sum_ty"))
      // Σt = n(n+1)/2 and Σt² = n(n+1)(2n+1)/6 exactly, by formula.
      val st = expr("(n * (n + 1)) div 2")
      val stt = expr("(n * (n + 1) * (2 * n + 1)) div 6")
      val nd = col("n").cast("double")
      val slope = ((nd * col("sum_ty").cast("double"))
        - st.cast("double") * col("sum_y").cast("double")) /
        ((nd * stt.cast("double")) - st.cast("double") * st.cast("double"))
      stats.select(col("user_id"), col("n"), col("sum_y"), col("sum_ty"),
        st.as("sum_t"), stt.as("sum_tt"),
        slope.as("slope_cents_per_event"),
        (col("sum_y").cast("double") / nd
          - slope * (st.cast("double") / nd)).as("intercept_cents"))
        .orderBy("user_id")
    },
    Some("""WITH ranked AS (
              SELECT user_id,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     CAST(row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS BIGINT) AS t
              FROM events),
            stats AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(cents) AS BIGINT) AS sum_y,
                     CAST(sum(t * cents) AS BIGINT) AS sum_ty
              FROM ranked GROUP BY user_id)
            SELECT user_id, n, sum_y, sum_ty,
                   (n * (n + 1)) // 2 AS sum_t,
                   (n * (n + 1) * (2 * n + 1)) // 6 AS sum_tt,
                   (CAST(n AS DOUBLE) * CAST(sum_ty AS DOUBLE)
                     - CAST((n * (n + 1)) // 2 AS DOUBLE)
                       * CAST(sum_y AS DOUBLE))
                   / (CAST(n AS DOUBLE)
                       * CAST((n * (n + 1) * (2 * n + 1)) // 6 AS DOUBLE)
                     - CAST((n * (n + 1)) // 2 AS DOUBLE)
                       * CAST((n * (n + 1)) // 2 AS DOUBLE))
                     AS slope_cents_per_event,
                   CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE)
                   - ((CAST(n AS DOUBLE) * CAST(sum_ty AS DOUBLE)
                     - CAST((n * (n + 1)) // 2 AS DOUBLE)
                       * CAST(sum_y AS DOUBLE))
                   / (CAST(n AS DOUBLE)
                       * CAST((n * (n + 1) * (2 * n + 1)) // 6 AS DOUBLE)
                     - CAST((n * (n + 1)) // 2 AS DOUBLE)
                       * CAST((n * (n + 1)) // 2 AS DOUBLE)))
                     * (CAST((n * (n + 1)) // 2 AS DOUBLE)
                        / CAST(n AS DOUBLE)) AS intercept_cents
            FROM stats ORDER BY user_id"""))

  /** X244 w34: ROLLING trend correlation — per event, the Pearson r
    * between spend and event index over the trailing 8 events (the
    * windowed "is spend trending with time right now?" signal, the
    * local companion to w33's whole-history OLS). All six windowed
    * sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT BIGINT
    * window sums (x = event rank, y = cents), so r is a pinned IEEE
    * chain with two correctly-rounded sqrts per row; windows where y
    * is constant (zero variance, detected in INTEGERS as nΣy²−(Σy)²=0)
    * emit NULL rather than a 0/0. Full-window rows only. Scale: ONE
    * user-keyed shuffle; every windowed sum shares the same frame sort.
    */
  private val w34 = Q(
    "w34_rolling_corr",
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRoll = wOrd.rowsBetween(-7, Window.currentRow)
      val base = Tables.load(s, dir, "events")
        .withColumn("y", round(col("value") * 100).cast("long"))
        .withColumn("x", row_number().over(wOrd).cast("long"))
        .withColumn("k", count(lit(1)).over(wRoll))
        .withColumn("sx", sum("x").over(wRoll))
        .withColumn("sy", sum("y").over(wRoll))
        .withColumn("sxy", sum(col("x") * col("y")).over(wRoll))
        .withColumn("sxx", sum(col("x") * col("x")).over(wRoll))
        .withColumn("syy", sum(col("y") * col("y")).over(wRoll))
        .filter(col("k") === 8L)
      val nd = col("k").cast("double")
      val cov = nd * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val vx = nd * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val vy = nd * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      base.select(col("user_id"), col("event_id"), col("x"), col("y"),
        when(col("k") * col("syy") - col("sy") * col("sy") === 0L,
          lit(null).cast("double"))
          .otherwise(cov / (sqrt(vx) * sqrt(vy))).as("rolling_r"))
        .orderBy("user_id", "x")
    },
    Some("""WITH ranked AS (
              SELECT user_id, event_id, ts,
                     CAST(round(value * 100) AS BIGINT) AS y,
                     CAST(row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS BIGINT) AS x
              FROM events),
            rolled AS (
              SELECT user_id, event_id, x, y,
                     CAST(count(*) OVER w AS BIGINT) AS k,
                     CAST(sum(x) OVER w AS BIGINT) AS sx,
                     CAST(sum(y) OVER w AS BIGINT) AS sy,
                     CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
                     CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
                     CAST(sum(y * y) OVER w AS BIGINT) AS syy
              FROM ranked
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
            SELECT user_id, event_id, x, y,
                   CASE WHEN k * syy - sy * sy = 0 THEN NULL
                   ELSE (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (sqrt(CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * sqrt(CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   END AS rolling_r
            FROM rolled WHERE k = 8
            ORDER BY user_id, x"""))

  /** X249 w35: PERCENT_RANK + CUME_DIST — the two relative-position
    * window functions completing the rank family (w12 ntile, w13
    * rank/dense_rank, w14 first/last/nth): both are RATIOS OF INTEGERS
    * — (rank−1)/(n−1) and (#peers ≤ x)/n — evaluated as one pinned
    * division each, so they hash-exact wherever the underlying rank
    * does. Ties matter and are proven: tied cents share a rank (and a
    * cume_dist counting ALL peers ≤), which integer ranks make
    * unambiguous. Single-member groups pin percent_rank to 0.0 by
    * definition. Scale: one user-keyed shuffle, both functions share
    * the same sort.
    */
  private val w35 = Q(
    "w35_percent_rank_cume",
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("cents")
      Tables.load(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .select(col("user_id"), col("event_id"), col("cents"),
          percent_rank().over(wOrd).as("pct_rank"),
          cume_dist().over(wOrd).as("cume"))
        .orderBy("user_id", "cents", "event_id")
    },
    Some("""SELECT user_id, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(round(value * 100) AS BIGINT))
            ORDER BY user_id, cents, event_id"""))

  /** X261 w36: CONDITIONAL TAIL EXPECTATION (expected shortfall /
    * CVaR-style): per user, the mean of the TOP-decile spends — where
    * w31 trims the tail away and w32 flags it, this row AVERAGES it,
    * the risk number capacity planning and abuse detection read
    * ("when this user spikes, how big is a spike on average?"). Tail
    * membership is a DISCRETE rank cutoff (rank > n − ⌈n/10⌉ over the
    * (cents, event_id) total order — ⌈n/10⌉ members exactly, no
    * interpolation), the tail sum is exact BIGINT, and the two means
    * are single divisions. Scale: one user-keyed shuffle shared by
    * the rank pass and the aggregate.
    */
  private val w36 = Q(
    "w36_tail_expectation",
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("cents", "event_id")
      val wAll = Window.partitionBy("user_id")
      Tables.load(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("rk", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("k", expr("(n + 9) div 10"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), min("k").as("tail_n"),
          sum("cents").as("sum_cents"),
          sum(when(col("rk") > col("n") - col("k"), col("cents"))
            .otherwise(0L)).as("tail_sum"))
        .select(col("user_id"), col("n"), col("tail_n"),
          (col("sum_cents").cast("double") / col("n").cast("double"))
            .as("mean_cents"),
          (col("tail_sum").cast("double") / col("tail_n").cast("double"))
            .as("tail_mean_cents"),
          ((col("tail_sum").cast("double") / col("tail_n").cast("double"))
            / (col("sum_cents").cast("double") / col("n").cast("double")))
            .as("tail_ratio"))
        .orderBy("user_id")
    },
    Some("""WITH ranked AS (
              SELECT user_id,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     row_number() OVER (PARTITION BY user_id ORDER BY
                       CAST(round(value * 100) AS BIGINT), event_id)
                       AS rk,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events),
            base AS (
              SELECT user_id, cents, rk, n, (n + 9) // 10 AS k
              FROM ranked)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(min(k) AS BIGINT) AS tail_n,
                   CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS mean_cents,
                   CAST(sum(CASE WHEN rk > n - k THEN cents ELSE 0 END)
                       AS DOUBLE) / CAST(min(k) AS DOUBLE)
                     AS tail_mean_cents,
                   (CAST(sum(CASE WHEN rk > n - k THEN cents ELSE 0 END)
                       AS DOUBLE) / CAST(min(k) AS DOUBLE))
                   / (CAST(sum(cents) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE)) AS tail_ratio
            FROM base GROUP BY user_id ORDER BY user_id"""))

  /** X314 w38: PAIR-SAMPLED Theil–Sen — the scale posture for w23's
    * one definitional quadratic (exact Theil-Sen is all-pairs-slopes;
    * the round-13 sf1 run measured group depth ×10 → 44× runtime).
    * Production estimators sample a fixed pair budget per series; this
    * row does it DETERMINISTICALLY so both engines sample the identical
    * set: pair (i,j) of a user with np total pairs is kept iff
    * h < (B·2³²) div np where h = ((i mod 2²⁰)·2654435761 +
    * (j mod 2²⁰)·40503 + (user_id mod 2²⁰)·2246822519) mod 2³²
    * (Knuth multiplicative constants) and B = 500 — an exact integer
    * predicate (no FP rate, no md5 in the hot path; pure codegen
    * arithmetic), giving keep-probability ≈ min(1, B/np) uniformly
    * over pairs. Every term is overflow-safe at ANY input magnitude:
    * operands are reduced mod 2²⁰ BEFORE the multiply (max product
    * ~2.8e15, sum of three ~8.4e15 « 2⁶³) and the budget compare uses
    * integer division instead of the cross-multiply h·np (which would
    * wrap silently in non-ANSI Spark and RAISE in DuckDB once
    * np > 2³¹ — i.e. at exactly the series depth this scale-posture
    * row exists for). Spark DIV and DuckDB // agree on non-negative
    * longs. The estimate is the same discrete rank-(ns+1)/2 selection
    * as w23 under the (slope, i, j) total order. Scale: pair
    * enumeration stays O(n²) map-side CPU, but nothing quadratic ever
    * SHUFFLES or SORTS — the rank selection runs on ≈B rows per user,
    * which is the part that actually breaks at depth (w23's sort of
    * n² slopes). Small series (np ≤ B) keep every pair ((B·2³²) div
    * np ≥ 2³² > every h), so the estimate equals the exact w23 slope
    * there — WindowSpec proves that equality on the sf0.001 events.
    * (Registry id w38: the round-13 snapshot shipped this row as a
    * second "w37_*", colliding with w37_dtw_distance's index.)
    */
  private val w38 = Q(
    "w38_theil_sen_sampled",
    (s, dir) => {
      val B = 500L
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val seq0 = Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy("user_id")))
        .select(col("user_id"), col("rn"), col("value"), col("n"))
      val pairs = seq0.as("a").join(seq0.as("b"), Seq("user_id"))
        .filter(col("a.rn") < col("b.rn"))
        .select(col("user_id"), col("a.rn").as("i"), col("b.rn").as("j"),
          col("a.value").as("va"), col("b.value").as("vb"),
          expr("a.n * (a.n - 1) DIV 2").as("np"))
        .withColumn("h",
          pmod(pmod(col("i"), lit(1048576L)) * lit(2654435761L)
            + pmod(col("j"), lit(1048576L)) * lit(40503L)
            + pmod(col("user_id"), lit(1048576L)) * lit(2246822519L),
            lit(4294967296L)))
        .filter(col("h") < expr(s"${B * 4294967296L} DIV np"))
        .select(col("user_id"), col("i"), col("j"), col("np"),
          ((col("vb") - col("va")) /
            (col("j") - col("i")).cast("double")).as("slope"))
      val wRank = Window.partitionBy("user_id")
        .orderBy(col("slope"), col("i"), col("j"))
      pairs
        .withColumn("rk", row_number().over(wRank))
        .withColumn("ns",
          count(lit(1)).over(Window.partitionBy("user_id")))
        .filter(col("rk") === expr("(ns + 1) DIV 2"))
        .select(col("user_id"), col("np").as("n_pairs"),
          col("ns").as("n_sampled"), col("slope").as("ts_slope_est"))
        .orderBy("user_id")
    },
    Some("""WITH seq0 AS (
              SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS rn,
                CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
              FROM events),
            pairs AS (
              SELECT a.user_id, a.rn AS i, b.rn AS j,
                     a.n * (a.n - 1) // 2 AS np,
                     (b.value - a.value) /
                       CAST(b.rn - a.rn AS DOUBLE) AS slope
              FROM seq0 a JOIN seq0 b
                ON a.user_id = b.user_id AND a.rn < b.rn
              WHERE ((a.rn % 1048576) * 2654435761
                     + (b.rn % 1048576) * 40503
                     + (a.user_id % 1048576) * 2246822519) % 4294967296
                    < (500 * 4294967296) // (a.n * (a.n - 1) // 2)),
            ranked AS (
              SELECT user_id, np, slope,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY slope, i, j) AS rk,
                CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                  AS ns
              FROM pairs)
            SELECT user_id, np AS n_pairs, ns AS n_sampled,
                   slope AS ts_slope_est
            FROM ranked WHERE rk = (ns + 1) // 2
            ORDER BY user_id"""))

  def all: Seq[Q] =
    Seq(w1w2, w3, w4, w8, w9, w10, w11, w12, w13, w14, w15, w16, w17, w18,
      w22, w23, w24, w25, w26, w28, w30, w31, w32, w33, w34, w35, w36,
      w38)
}

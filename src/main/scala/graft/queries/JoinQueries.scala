package graft.queries

import graft.Q
import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join operators (SURVEY.md §2.3). Dimension tables (region, nation,
  * customer, supplier, part) are small at any scale factor relative to
  * the facts, so they are explicitly `broadcast()` — at 100 TB the fact
  * side never shuffles for these joins.
  */
object JoinQueries {

  /** J1 inner equi-join on 3 keys (confirmed ⋈ recovered ⋈ death on
    * (province_state, country_region, date)). Re-expressed: three
    * measure-aggregates of lineitem re-joined on a 3-part key.
    * Ref: covid_data_transform.py:95-96.
    */
  private val j1 = Q(
    "j1_inner_join_3key",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val keys = Seq("l_returnflag", "l_linestatus", "l_shipmonth")
      def measure(c: String, alias: String) =
        li.withColumn("l_shipmonth", date_trunc("month", col("l_shipdate")))
          .groupBy(keys.map(col): _*)
          .agg(round(sum(col(c)), 4).as(alias))
      measure("l_quantity", "qty")
        .join(measure("l_extendedprice", "price"), keys, "inner")
        .join(measure("l_discount", "disc"), keys, "inner")
        .orderBy(keys.map(col): _*)
    },
    Some("""WITH m AS (
              SELECT l_returnflag, l_linestatus,
                     date_trunc('month', l_shipdate) AS l_shipmonth,
                     round(sum(l_quantity), 4) AS qty,
                     round(sum(l_extendedprice), 4) AS price,
                     round(sum(l_discount), 4) AS disc
              FROM lineitem GROUP BY 1, 2, 3)
            SELECT a.l_returnflag, a.l_linestatus, a.l_shipmonth,
                   a.qty, b.price, c.disc
            FROM (SELECT l_returnflag, l_linestatus, l_shipmonth, qty FROM m) a
            JOIN (SELECT l_returnflag, l_linestatus, l_shipmonth, price FROM m) b
              USING (l_returnflag, l_linestatus, l_shipmonth)
            JOIN (SELECT l_returnflag, l_linestatus, l_shipmonth, disc FROM m) c
              USING (l_returnflag, l_linestatus, l_shipmonth)
            ORDER BY 1, 2, 3"""))

  /** J2 inner equi-join on 1 key with a small broadcast dim.
    * Ref: covid_data_transform.py:113 (covid ⋈ population).
    */
  private val j2 = Q(
    "j2_inner_join_broadcast",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(graft.ops.ExactNum.dsum(col("o_totalprice")), 4)
            .as("total"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6)))
                         AS DOUBLE), 4) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1 ORDER BY 1"""))

  /** J3 left outer join (readings ⋈ station metadata keeping all left).
    * Ref: covid_data_transform.py:165; weather_pred.py:164.
    */
  private val j3 = Q(
    "j3_left_join",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("n_name"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, n_name
            FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
            ORDER BY c_custkey"""))

  /** J4 right outer join keeping all right-side rows.
    * Ref: covid_data_transform.py:239 (covid ⋈ weather, how='right').
    */
  private val j4 = Q(
    "j4_right_join",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").filter(col("o_totalprice") > 250000)
      val c = Tables.load(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_big_orders"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, count(o_orderkey) AS n_big_orders
            FROM (SELECT * FROM orders WHERE o_totalprice > 250000) o
            RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1 ORDER BY 1"""))

  /** J5 self-join with _after/_before suffixes + per-column diffs.
    * Ref: covid_simulator.py:622-627.
    */
  private val j5 = Q(
    "j5_self_join_suffix_diff",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      def yearAgg(flag: String, alias: String) =
        li.filter(col("l_returnflag") === flag)
          .groupBy(col("l_suppkey"))
          .agg(round(sum("l_extendedprice"), 4).as(alias))
      yearAgg("R", "price_after")
        .join(yearAgg("A", "price_before"), Seq("l_suppkey"), "inner")
        .withColumn("price_diff",
          round(col("price_after") - col("price_before"), 4))
        .orderBy("l_suppkey")
    },
    Some("""WITH a AS (SELECT l_suppkey, round(sum(l_extendedprice),4) AS price_after
                       FROM lineitem WHERE l_returnflag='R' GROUP BY 1),
                 b AS (SELECT l_suppkey, round(sum(l_extendedprice),4) AS price_before
                       FROM lineitem WHERE l_returnflag='A' GROUP BY 1)
            SELECT a.l_suppkey, price_after, price_before,
                   round(price_after - price_before, 4) AS price_diff
            FROM a JOIN b USING (l_suppkey) ORDER BY 1"""))

  /** J6 semi-join by derived key set (keep groups whose max(date_idx)
    * hits a target). Ref: covid_data_transform.py:241-260.
    */
  private val j6 = Q(
    "j6_semi_join_keyset",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val bigCusts = o.groupBy("o_custkey")
        .agg(max("o_totalprice").as("mx"))
        .filter(col("mx") > 400000)
        .select("o_custkey")
      o.join(bigCusts, Seq("o_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_custkey IN (
              SELECT o_custkey FROM orders GROUP BY 1
              HAVING max(o_totalprice) > 400000)
            ORDER BY o_orderkey"""))

  /** J7 per-group scalar lookup (the reference's nested-loop coefficient
    * fetch) → broadcast equi-join against the tiny coefficient dim.
    * Ref: covid_simulator.py:39-51.
    */
  private val j7 = Q(
    "j7_scalar_lookup_join",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"), "inner")
        .groupBy("s_nationkey")
        // exact decimal sum (ExactNum): the weighted double sum drifted
        // 1e-14 at sf1 in the round-15 audit — same mechanism as j2/j9.
        .agg(round(graft.ops.ExactNum.dsum(
          col("l_quantity") * col("s_acctbal")), 4).as("weighted"))
        .orderBy("s_nationkey")
    },
    Some(s"""SELECT s_nationkey,
                    round(${graft.ops.ExactNum.dsumSql(
                      "l_quantity * s_acctbal")}, 4) AS weighted
             FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             GROUP BY 1 ORDER BY 1"""))

  /** Anti-join complement of J6 (pandas `isin` negation pattern,
    * covid_simulator.py:571 `~...isin(...)`). */
  private val jAnti = Q(
    "j8_anti_join",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    // NOT EXISTS (not NOT IN): left_anti keeps unmatched rows even when
    // the probe side contains NULLs, matching EXISTS semantics.
    Some("""SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey"""))

  /** J9 (beyond the reference): key-salted join — the manual skew
    * mitigation for a hot join key. The fact side appends a
    * deterministic salt (pmod of another column) to the join key; the
    * dim side is exploded into one copy per salt value, so a single hot
    * key's rows spread across `nSalts` reducers instead of one straggler
    * task. AQE's skew-join split is the automatic variant; this is the
    * explicit pattern for engines/stages where AQE can't see the skew.
    * The salt is semantics-free: the oracle is the plain join.
    */
  private val j9 = Q(
    "j9_salted_skew_join",
    (s, dir) => {
      val nSalts = 8
      val li = Tables.load(s, dir, "lineitem")
        .withColumn("salt", pmod(col("l_partkey"), lit(nSalts)))
      val o = Tables.load(s, dir, "orders")
        .withColumn("salt", explode(sequence(lit(0), lit(nSalts - 1))))
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("salt") === o("salt"))
        .groupBy("o_orderpriority")
        .agg(round(graft.ops.ExactNum.dsum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"), count(lit(1)).as("n_lines"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
                   round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE), 4)
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1 ORDER BY 1"""))

  /** J10 (beyond the reference): interval-OVERLAP join via bucket
    * blocking — per-user activity sessions (30-min-gap construction)
    * joined against global error windows (error event ±5 min) on the
    * overlap predicate `s.start ≤ e.hi AND e.lo ≤ s.end`. A theta join
    * would be a cartesian product at scale; instead both interval sets
    * explode into the 10-min buckets they cover and equi-join on the
    * bucket key (lossless: overlapping intervals share every bucket of
    * their intersection), dedup, then verify the exact predicate.
    * Shuffle cost is O(intervals × buckets-covered), never |A|×|B|.
    * The oracle is the plain theta join — proving the blocked plan
    * returns exactly the unblocked answer.
    */
  private val j10 = Q(
    "j10_interval_overlap_join",
    (s, dir) => {
      val bucket = 600000000L // 10 min in micros
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val sess = ev
        .withColumn("new_sess",
          when(lag("t", 1).over(w).isNull ||
            col("t") - lag("t", 1).over(w) >= 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("t").as("s_lo"), max("t").as("s_hi"))
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id"),
          (col("t") - 300000000L).as("e_lo"), (col("t") + 300000000L).as("e_hi"))
      val sessB = sess.withColumn("bk",
        explode(sequence(floor(col("s_lo") / bucket).cast("long"),
          floor(col("s_hi") / bucket).cast("long"))))
      val errB = err.withColumn("bk",
        explode(sequence(floor(col("e_lo") / bucket).cast("long"),
          floor(col("e_hi") / bucket).cast("long"))))
      sessB.join(errB, Seq("bk"))
        .filter(col("s_lo") <= col("e_hi") && col("e_lo") <= col("s_hi"))
        .select("user_id", "sid", "s_lo", "event_id").distinct()
        .groupBy("user_id", "sid", "s_lo")
        .agg(count(lit(1)).as("n_err_overlaps"))
        .select(col("user_id"), col("s_lo").as("session_start"),
          col("n_err_overlaps"))
        .orderBy("user_id", "session_start")
    },
    Some("""WITH ev AS (
              SELECT event_id, user_id, event_type, epoch_us(ts) AS t
              FROM events),
            g AS (
              SELECT user_id, event_id, t,
                CASE WHEN lag(t) OVER w IS NULL
                       OR t - lag(t) OVER w >= 1800000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM ev
              WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
            sess AS (
              SELECT user_id, sid, min(t) AS s_lo, max(t) AS s_hi FROM (
                SELECT user_id, t,
                  sum(new_sess) OVER (PARTITION BY user_id
                    ORDER BY t, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
                FROM g)
              GROUP BY 1, 2),
            err AS (
              SELECT event_id, t - 300000000 AS e_lo, t + 300000000 AS e_hi
              FROM ev WHERE event_type = 'error')
            SELECT s.user_id, s.s_lo AS session_start,
                   count(DISTINCT e.event_id) AS n_err_overlaps
            FROM sess s JOIN err e
              ON s.s_lo <= e.e_hi AND e.e_lo <= s.s_hi
            GROUP BY s.user_id, s.sid, s.s_lo
            ORDER BY s.user_id, session_start"""))

  /** J11 (beyond the reference): NULL-SAFE equi-join (`<=>` /
    * IS NOT DISTINCT FROM) — open orders are mapped to a NULL key and
    * must still match the dimension's NULL row, which a plain `=` join
    * silently drops. The null-match contract matters for canonical
    * "unknown" buckets in dimension joins; Spark plans `<=>` as a
    * hashable key (coalesce-to-sentinel under the hood), so it is
    * broadcast/shuffle-joinable like any equi-key, not a theta join.
    */
  private val j11 = Q(
    "j11_null_safe_join",
    (s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .withColumn("k",
          when(col("o_orderstatus") === "O", lit(null: String))
            .otherwise(col("o_orderstatus")))
      val dim = Seq(("F", "finished"), ("P", "pending"),
        (null.asInstanceOf[String], "open"))
        .toDF("k", "label")
      o.join(broadcast(dim), o("k") <=> dim("k"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(graft.ops.ExactNum.dsum(col("o_totalprice")), 4)
            .as("total"))
        .orderBy("label")
    },
    Some("""WITH o AS (
              SELECT CASE WHEN o_orderstatus = 'O' THEN NULL
                          ELSE o_orderstatus END AS k, o_totalprice
              FROM orders),
            dim(k, label) AS (
              VALUES ('F', 'finished'), ('P', 'pending'), (NULL, 'open'))
            SELECT label, count(*) AS n,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6)))
                         AS DOUBLE), 4) AS total
            FROM o JOIN dim ON o.k IS NOT DISTINCT FROM dim.k
            GROUP BY 1 ORDER BY 1"""))

  /** J12 (beyond the reference): FULL OUTER join with survivor-side
    * markers — the reconciliation shape (two sources, rows unique to
    * either side must surface, not drop). The two inputs are made to
    * overlap only partially so all three row classes (both / left-only
    * / right-only) appear. At scale a full outer join cannot broadcast
    * either side — Spark plans a SortMergeJoin with one shuffle per
    * side on the key, which is exactly right; `coalesce` of the two
    * keys restores a total order for the hash check.
    */
  private val j12 = Q(
    "j12_full_outer_join",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 150)
        .select(col("c_custkey"), col("c_name"))
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_custkey").between(100, 200))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 4).as("total"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("n_orders"), col("total"),
          col("o_custkey").isNull.cast("int").as("left_only"),
          col("c_custkey").isNull.cast("int").as("right_only"))
        .orderBy("custkey")
    },
    Some("""WITH c AS (
              SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 150),
            o AS (
              SELECT o_custkey, count(*) AS n_orders,
                     round(sum(o_totalprice), 4) AS total
              FROM orders WHERE o_custkey BETWEEN 100 AND 200
              GROUP BY 1)
            SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
                   c.c_name, o.n_orders, o.total,
                   CAST(o.o_custkey IS NULL AS INT) AS left_only,
                   CAST(c.c_custkey IS NULL AS INT) AS right_only
            FROM c FULL JOIN o ON c.c_custkey = o.o_custkey
            ORDER BY custkey"""))

  /** J13 (X115, beyond the reference): FUZZY RECORD LINKAGE — the
    * block → score → survivorship pattern every entity-resolution
    * pipeline runs at scale. A deterministic "dirty" feed is derived
    * from customer (one character deleted from each name — a realistic
    * single-keystroke corruption), then linked back: candidate pairs
    * are generated ONLY within a blocking key (nationkey here; real
    * deployments use multi-key/sorted-neighborhood blocking — the
    * shape is identical), scored with codegen'd `levenshtein`, gated
    * at edit-distance ≤ 2, and resolved to one best match per dirty
    * record by (distance, key) rank. Never all-pairs: blocking is
    * MULTI-KEY — (nationkey, last-4-of-name), the structural key a
    * single left-edit cannot disturb — so candidate pairs stay
    * near-linear in record count, the join is a plain 2-key equi-join
    * shuffle, and survivorship is one window keyed by the
    * high-cardinality dirty id. (Round-7 measured lesson: blocking on
    * nationkey ALONE left Σ|block|² ≈ 9M candidate pairs whose
    * levenshtein gate fused into the join as an interpreted non-equi
    * condition — 27 s at sf0.1; the tighter block is 45× faster AND
    * the honest at-scale design. The price of structural blocking is
    * recall on edits that strike the block key itself — real linkers
    * run a second pass keyed on a different name region; the
    * `correct` column keeps that visible.)
    */
  private val j13 = Q(
    "j13_fuzzy_record_linkage",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val dirty = cust.select(
        col("c_custkey").as("d_id"),
        concat(substring(col("c_name"), 1, 9),
          substring(col("c_name"), 11, 9)).as("d_name"),
        col("c_nationkey").as("d_nation"))
      val cand = cust
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        .join(dirty, col("c_nationkey") === col("d_nation") &&
          substring(col("c_name"), -4, 4) ===
            substring(col("d_name"), -4, 4))
        .withColumn("dist", levenshtein(col("c_name"), col("d_name")))
        .filter(col("dist") <= 2)
      val w = Window.partitionBy("d_id")
        .orderBy(col("dist"), col("c_custkey"))
      cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("d_id"), col("c_custkey").as("matched_key"),
          col("dist"), (col("c_custkey") === col("d_id")).as("correct"))
        .orderBy("d_id")
    },
    Some("""WITH dirty AS (
              SELECT c_custkey AS d_id,
                     substr(c_name, 1, 9) || substr(c_name, 11, 9)
                       AS d_name,
                     c_nationkey AS d_nation
              FROM customer),
            cand AS (
              SELECT d.d_id, c.c_custkey,
                     levenshtein(c.c_name, d.d_name) AS dist
              FROM customer c JOIN dirty d
                ON c.c_nationkey = d.d_nation
               AND right(c.c_name, 4) = right(d.d_name, 4)
              WHERE levenshtein(c.c_name, d.d_name) <= 2),
            best AS (
              SELECT d_id, c_custkey, dist,
                     row_number() OVER (PARTITION BY d_id
                       ORDER BY dist, c_custkey) AS rk
              FROM cand)
            SELECT d_id, c_custkey AS matched_key,
                   CAST(dist AS INTEGER) AS dist,
                   c_custkey = d_id AS correct
            FROM best WHERE rk = 1 ORDER BY d_id"""))

  /** J14 (X123): NULL-AWARE anti join — SQL `NOT IN (subquery)` with
    * its full three-valued logic: an outer row with a NULL key can
    * never satisfy NOT IN (NULL <> x is unknown), so the 7%-of-orders
    * whose derived key is NULL are dropped alongside the actual
    * matches. This is semantically DIFFERENT from j8's left-anti join
    * (which keeps NULL keys) and is a classic silent-wrong-answer trap
    * when engines rewrite NOT IN carelessly; Spark plans it as a
    * null-aware anti join and the driver hash-proves the semantics
    * against DuckDB's NOT IN. Verified via the per-priority survivor
    * rollup so the row stays compact at any scale.
    */
  private val j14 = Q(
    "j14_not_in_null_aware",
    (s, dir) => {
      graft.ops.Tables.registerAll(s, dir)
      s.sql("""
        WITH keyed AS (
          SELECT o_orderpriority,
                 CASE WHEN o_orderkey % 7 = 0 THEN CAST(NULL AS BIGINT)
                      ELSE o_custkey END AS k
          FROM orders)
        SELECT o_orderpriority, count(*) AS n_survivors
        FROM keyed
        WHERE k NOT IN (SELECT c_custkey FROM customer
                        WHERE c_acctbal < 1000)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
    Some("""WITH keyed AS (
              SELECT o_orderpriority,
                     CASE WHEN o_orderkey % 7 = 0
                          THEN CAST(NULL AS BIGINT)
                          ELSE o_custkey END AS k
              FROM orders)
            SELECT o_orderpriority, count(*) AS n_survivors
            FROM keyed
            WHERE k NOT IN (SELECT c_custkey FROM customer
                            WHERE c_acctbal < 1000)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  /** J15 (X190, beyond the reference): AS-OF JOIN — for every `click`
    * event, the most recent prior-or-equal `purchase` by the same user
    * (backward-inclusive match, left semantics: clicks before any
    * purchase stay unmatched). Spark has no native as-of operator, so
    * this is the scalable union-ffill composition: tag both sides, ONE
    * shuffle on user_id, sort by (ts, side) with the purchase side
    * ordered first at equal timestamps, and forward-fill the purchase
    * attributes with `last(ignoreNulls)` — O(n log n) per partition vs
    * the O(n·m) range-join a naive `ts <= ts` join would plan. The
    * purchase side is pre-deduped to one row per (user, ts) (max
    * event_id) so the match is well-defined under timestamp ties at any
    * scale. The DuckDB oracle is the engine-native `ASOF LEFT JOIN` —
    * an independent implementation of the same semantics. Gaps are
    * exact integral microseconds; purchase values exact cents; per-user
    * rollup keeps the output compact while any single mis-match flips
    * a sum.
    */
  private val j15 = Q(
    "j15_asof_join",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val wB = Window.partitionBy("user_id", "us")
        .orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(wB))
        .filter(col("rn") === 1)
      val tagged = purchases
        .select(col("user_id"), col("us"), lit(0).as("side"),
          col("event_id").as("p_eid"), col("us").as("p_us"),
          col("cents").as("p_cents"))
        .unionByName(ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            lit(1).as("side"), lit(null).cast("long").as("p_eid"),
            lit(null).cast("long").as("p_us"),
            lit(null).cast("long").as("p_cents")))
      val wf = Window.partitionBy("user_id")
        .orderBy(col("us"), col("side"), col("p_eid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val matched = tagged
        .withColumn("ref_eid", last(col("p_eid"), ignoreNulls = true).over(wf))
        .withColumn("ref_us", last(col("p_us"), ignoreNulls = true).over(wf))
        .withColumn("ref_cents",
          last(col("p_cents"), ignoreNulls = true).over(wf))
        .filter(col("side") === 1)
      matched.groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          count(col("ref_eid")).as("n_matched"),
          coalesce(sum(col("us") - col("ref_us")), lit(0L))
            .as("sum_gap_us"),
          coalesce(max(col("us") - col("ref_us")), lit(0L))
            .as("max_gap_us"),
          coalesce(sum(col("ref_cents")), lit(0L)).as("sum_ref_cents"))
        .orderBy("user_id")
    },
    Some("""WITH p0 AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     row_number() OVER (PARTITION BY user_id, ts
                       ORDER BY event_id DESC) AS rn
              FROM events WHERE event_type = 'purchase'),
            p AS (SELECT user_id, event_id, us, cents
                  FROM p0 WHERE rn = 1),
            c AS (SELECT user_id, event_id, epoch_us(ts) AS us
                  FROM events WHERE event_type = 'click'),
            m AS (
              SELECT c.user_id, c.us, p.us AS ref_us,
                     p.cents AS ref_cents, p.event_id AS ref_eid
              FROM c ASOF LEFT JOIN p
                ON c.user_id = p.user_id AND c.us >= p.us)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
                   CAST(count(ref_eid) AS BIGINT) AS n_matched,
                   CAST(coalesce(sum(us - ref_us), 0) AS BIGINT)
                     AS sum_gap_us,
                   CAST(coalesce(max(us - ref_us), 0) AS BIGINT)
                     AS max_gap_us,
                   CAST(coalesce(sum(ref_cents), 0) AS BIGINT)
                     AS sum_ref_cents
            FROM m GROUP BY 1 ORDER BY 1"""))

  /** J16 (X204, beyond the reference): FORWARD AS-OF JOIN WITH
    * TOLERANCE — each click matched to the FIRST purchase at-or-after
    * it, attributed only when the gap is within 30 minutes (the
    * `merge_asof(direction='forward', tolerance=...)` contract, the
    * mirror of j15's backward as-of). Same scale design as j15: the
    * as-of match is NOT a range join — purchases and clicks union into
    * one tagged stream, ONE shuffle on user_id, and a
    * first-non-null-over-FOLLOWING window resolves each click's next
    * purchase by sort order inside the partition; the tolerance is a
    * post-window filter. The oracle replays the naive
    * range-join + rank-1 plan — exactly what this composition avoids.
    * Purchases are deduped to one per (user, µs) (min event_id) so the
    * "first at-or-after" witness is unique and the hash deterministic.
    */
  private val j16 = Q(
    "j16_asof_forward_tolerance",
    (s, dir) => {
      val tolUs = 30L * 60L * 1000000L
      val ev = Tables.load(s, dir, "events")
      val wDedup = Window.partitionBy("user_id", "us")
        .orderBy(col("event_id").asc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(wDedup))
        .filter(col("rn") === 1)
      val tagged = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          lit(0).as("side"), lit(null).cast("long").as("p_eid"),
          lit(null).cast("long").as("p_us"),
          lit(null).cast("long").as("p_cents"))
        .unionByName(purchases
          .select(col("user_id"), col("us"), lit(1).as("side"),
            col("event_id").as("p_eid"), col("us").as("p_us"),
            col("cents").as("p_cents")))
      // clicks sort BEFORE the same-microsecond purchase (side 0 < 1),
      // so "at-or-after" includes a purchase at the exact click time
      val wf = Window.partitionBy("user_id")
        .orderBy(col("us"), col("side"), col("p_eid"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val matched = tagged
        .withColumn("ref_eid",
          first(col("p_eid"), ignoreNulls = true).over(wf))
        .withColumn("ref_us",
          first(col("p_us"), ignoreNulls = true).over(wf))
        .withColumn("ref_cents",
          first(col("p_cents"), ignoreNulls = true).over(wf))
        .filter(col("side") === 0)
        .withColumn("gap", col("ref_us") - col("us"))
        .withColumn("within",
          col("ref_eid").isNotNull && col("gap") <= tolUs)
      matched.groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          count(col("ref_eid")).as("n_matched"),
          sum(when(col("within"), 1L).otherwise(0L)).as("n_within_tol"),
          coalesce(sum(when(col("within"), col("gap"))), lit(0L))
            .as("sum_gap_us"),
          coalesce(sum(when(col("within"), col("ref_cents"))), lit(0L))
            .as("sum_ref_cents"))
        .orderBy("user_id")
    },
    Some("""WITH p0 AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     row_number() OVER (PARTITION BY user_id, ts
                       ORDER BY event_id ASC) AS rn
              FROM events WHERE event_type = 'purchase'),
            p AS (SELECT user_id, event_id, us, cents
                  FROM p0 WHERE rn = 1),
            c AS (SELECT user_id, event_id, epoch_us(ts) AS us
                  FROM events WHERE event_type = 'click'),
            cand AS (
              SELECT c.user_id, c.event_id AS c_eid, c.us,
                     p.us AS ref_us, p.cents AS ref_cents,
                     p.event_id AS ref_eid,
                     row_number() OVER (PARTITION BY c.user_id, c.event_id
                       ORDER BY p.us, p.event_id) AS rn
              FROM c JOIN p
                ON c.user_id = p.user_id AND p.us >= c.us),
            m AS (SELECT * FROM cand WHERE rn = 1),
            full0 AS (
              SELECT c.user_id, c.event_id, c.us,
                     m.ref_eid, m.ref_us, m.ref_cents,
                     m.ref_us - c.us AS gap,
                     m.ref_eid IS NOT NULL
                       AND m.ref_us - c.us <= 1800000000 AS within
              FROM c LEFT JOIN m
                ON c.user_id = m.user_id AND c.event_id = m.c_eid)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
                   CAST(count(ref_eid) AS BIGINT) AS n_matched,
                   CAST(sum(CASE WHEN within THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_within_tol,
                   CAST(coalesce(sum(CASE WHEN within THEN gap END), 0)
                     AS BIGINT) AS sum_gap_us,
                   CAST(coalesce(sum(CASE WHEN within THEN ref_cents END),
                     0) AS BIGINT) AS sum_ref_cents
            FROM full0 GROUP BY 1 ORDER BY 1"""))

  /** X263 j18: BAND JOIN (|price_a − price_b| ≤ δ) — "find
    * competitors within 10 cents": every Brand#1 part against every
    * other part within a fixed distance (j10 overlaps explicit
    * intervals, j15/j16 pick ONE nearest row). The join condition is
    * the raw theta predicate `abs(probe − cand) ≤ 10`, a nested loop at
    * any scale as written; [[graft.plans.BandJoinRewrite]], the
    * injected optimizer rule, turns it into the bucket-explode
    * equi-join (probe rows explode to their δ-width bucket and both
    * neighbours, candidates carry one bucket, the exact filter runs
    * post-join), so shuffle cost is 3×probe + 1×build rows and no cross
    * product forms. This is the custom-Rule[LogicalPlan] showcase: the
    * USER writes the predicate they mean, the OPTIMIZER supplies the
    * scalable plan, and the oracle (DuckDB executing the same naive
    * join) hash-proves the rewrite changed the plan and nothing else.
    * PlanSpec pins the equi-join and no nested loop; the PropertySpec
    * band-join law is the rewrite's correctness proof for arbitrary
    * inputs.
    */
  private val j18 = Q(
    "j18_band_join_auto",
    (s, dir) => {
      val parts = Tables.load(s, dir, "part")
        .withColumn("cents",
          floor(col("p_retailprice") * 100 + lit(0.5)).cast("long"))
      val probe = parts.filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey").as("probe_key"),
          col("cents").as("probe_cents"))
      val cand = parts.filter(col("p_brand") =!= "Brand#1")
        .select(col("p_partkey").as("cand_key"),
          col("cents").as("cand_cents"))
      probe.join(cand,
          abs(col("probe_cents") - col("cand_cents")) <= lit(10L))
        .groupBy("probe_key")
        .agg(min("probe_cents").as("probe_cents"),
          count(lit(1)).as("n_matches"),
          min("cand_cents").as("min_match_cents"),
          max("cand_cents").as("max_match_cents"),
          sum("cand_key").as("match_key_sum"))
        .orderBy("probe_key")
    },
    Some("""WITH parts AS (
              SELECT p_partkey, p_brand,
                     CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
                       AS cents
              FROM part),
            probe AS (
              SELECT p_partkey AS probe_key, cents AS probe_cents
              FROM parts WHERE p_brand = 'Brand#1'),
            cand AS (
              SELECT p_partkey AS cand_key, cents AS cand_cents
              FROM parts WHERE p_brand <> 'Brand#1')
            SELECT p.probe_key, min(p.probe_cents) AS probe_cents,
                   CAST(count(*) AS BIGINT) AS n_matches,
                   min(c.cand_cents) AS min_match_cents,
                   max(c.cand_cents) AS max_match_cents,
                   CAST(sum(c.cand_key) AS BIGINT) AS match_key_sum
            FROM probe p JOIN cand c
              ON abs(p.probe_cents - c.cand_cents) <= 10
            GROUP BY p.probe_key ORDER BY p.probe_key"""))

  /** Each click as-of-joined by [[graft.plans.AsOfJoinExec]] to its
    * user's purchases, which dedupe to one per (user, µs) by the first
    * event_id in `witness` order so the match is unique; `forward` and
    * `toleranceUs` pass to [[graft.plans.AsOf.join]]. Money in exact
    * integer cents.
    */
  private def asOfClicks(s: SparkSession, dir: String, witness: Column,
      forward: Boolean, toleranceUs: Option[Long]): DataFrame = {
    import graft.plans.AsOf
    val ev = Tables.load(s, dir, "events")
    val wB = Window.partitionBy("user_id", "us").orderBy(witness)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") === 1)
      // fresh exprIds on every column: both as-of sides come from the
      // same scan, and the exec binds by exprId per side
      .select(col("user_id").as("p_user"), col("us").as("p_us"),
        col("cents").as("p_cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"))
    AsOf.join(clicks, purchases, "user_id", "click_us", "p_user", "p_us",
        forward, toleranceUs)
      .select("event_id", "user_id", "click_us", "p_us", "p_cents")
      .orderBy("event_id")
  }

  /** DuckDB's two [[asOfClicks]] sides as the CTEs p (p_user, p_us,
    * p_cents; the first event_id in `witness` order per user and µs)
    * and c (event_id, user_id, click_us).
    */
  private def duckAsOfSides(witness: String): String =
    s"""WITH p0 AS (
       |  SELECT user_id, epoch_us(ts) AS us,
       |         CAST(round(value * 100) AS BIGINT) AS cents,
       |         row_number() OVER (PARTITION BY user_id, ts
       |           ORDER BY event_id $witness) AS rn
       |  FROM events WHERE event_type = 'purchase'),
       |p AS (SELECT user_id AS p_user, us AS p_us, cents AS p_cents
       |      FROM p0 WHERE rn = 1),
       |c AS (SELECT event_id, user_id, epoch_us(ts) AS click_us
       |      FROM events WHERE event_type = 'click')""".stripMargin

  /** X292 j19: AS-OF JOIN AS A CUSTOM PHYSICAL OPERATOR — the tier-(c)
    * extension surface demonstrated end-to-end: `plans.AsOfJoin`
    * (LogicalPlan) → `AsOfJoinStrategy` (injectPlannerStrategy) →
    * `AsOfJoinExec`, a merge-scan with ONE buffered right row per
    * partition (O(1) state; requiredChildDistribution/Ordering make
    * EnsureRequirements plan exactly one hash exchange + sort per side,
    * the SMJ cost envelope — PlanSpec pins the exec and the
    * two-exchange shape). Same backward-inclusive semantics as j15's
    * tier-(a) union-ffill composition, but proven at PER-CLICK detail
    * against DuckDB's NATIVE `ASOF LEFT JOIN` — two engines' dedicated
    * as-of operators executing to the identical 20k-row result is the
    * sharpest operator-level conformance the family has. Purchases
    * dedupe to one per (user, µs) (j15's witness device) so the match
    * is unique; money in exact integer cents.
    */
  private val j19 = Q(
    "j19_asof_exec",
    (s, dir) => asOfClicks(s, dir, col("event_id").desc, forward = false,
      toleranceUs = None),
    Some(duckAsOfSides("DESC") + """
            SELECT c.event_id, c.user_id, c.click_us, p.p_us, p.p_cents
            FROM c ASOF LEFT JOIN p
              ON c.user_id = p.p_user AND c.click_us >= p.p_us
            ORDER BY c.event_id"""))

  /** X294 j20: FORWARD + TOLERANCE through the custom as-of exec — the
    * j16 contract (`merge_asof(direction='forward',
    * tolerance=30min)`) executed by [[graft.plans.AsOfJoinExec]]'s
    * time-DESCENDING merge (direction flips only the sort and the
    * comparison; the O(1)-state algorithm is identical) with the
    * tolerance applied at emit. Oracle = the naive range-join + min
    * replay at PER-CLICK detail — the quadratic plan the exec avoids,
    * proving the same 2k-row answer. Purchases dedupe to one per
    * (user, µs) by MIN event_id (j16's forward witness device).
    */
  private val j20 = Q(
    "j20_asof_exec_forward",
    (s, dir) => asOfClicks(s, dir, col("event_id").asc, forward = true,
      toleranceUs = Some(30L * 60L * 1000000L)),
    Some(duckAsOfSides("ASC") + """,
            nxt AS (
              SELECT c.event_id, c.user_id, c.click_us,
                     min(p.p_us) AS p_us
              FROM c LEFT JOIN p ON c.user_id = p.p_user
                AND p.p_us >= c.click_us
                AND p.p_us - c.click_us <= 1800000000
              GROUP BY 1, 2, 3)
            SELECT n.event_id, n.user_id, n.click_us, n.p_us, p2.p_cents
            FROM nxt n LEFT JOIN p p2
              ON n.user_id = p2.p_user AND n.p_us = p2.p_us
            ORDER BY n.event_id"""))

  def all: Seq[Q] =
    Seq(j1, j2, j3, j4, j5, j6, j7, jAnti, j9, j10, j11, j12, j13, j14,
      j15, j16, j18, j19, j20)
}

package graft.queries

import graft.Q
import graft.ops.{Sequential, Tables}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.reflect.runtime.universe.TypeTag

/** Encoder case classes for the typed folds (top-level for implicit
  * Encoder derivation). */
case class FillRow(key: Long, rn: Int, id: Long, v: Option[Double])
case class FillOut(o_custkey: Long, o_orderkey: Long, filled: Double)
case class SirRow(key: Long, rn: Int, qty: Double, disc: Double, tax: Double)
case class SirOut(l_suppkey: Long, rn: Int, pred_confirmed: Double,
    pred_removed: Double, pred_susceptible: Double)
case class ArRow(key: Long, rd: Int, price: Double)
case class ArOut(o_custkey: Long, step: Int, pred: Double)
case class EwmaRow(key: Long, rn: Int, id: Long, v: Double)
case class EwmaOut(user_id: Long, event_id: Long, ewma: Double)
case class HoltOut(user_id: Long, event_id: Long, level: Double, trend: Double,
    forecast: Double)

case class HwOut(user_id: Long, event_id: Long, level: Double,
  seasonal: Double, forecast: Double)
case class CusumOut(user_id: Long, event_id: Long, cusum: Double,
    alarm: Boolean)
case class KalmanOut(user_id: Long, event_id: Long, xhat: Double,
    gain: Double, pvar: Double)

/** The three order-sensitive recurrences (SURVEY.md §2.7 W5/W6/W7) as
  * `groupByKey.flatMapGroups` folds over [[graft.ops.Sequential]]'s
  * pure kernels. Although these are NOT window-expressible, each still
  * gets a real DuckDB oracle via a recursive CTE that replays the same
  * fold — so the driver hash-checks them like any relational query.
  *
  * Scale: one shuffle on the group key; each group folds locally in a
  * task. Group sizes here are bounded (≤ tens of rows per key), so no
  * single task can hot-spot; for unbounded groups the fold is O(group)
  * memory-streaming (Iterator in, Iterator out).
  */
object SequentialQueries {

  /** Each supplier's first 30 lineitems in (shipdate, orderkey,
    * linenumber) order as [[SirRow]]s, handed sorted to `f`: the SIR
    * input of w6's Euler recurrence and m3's RK4. */
  private[queries] def sirSeries[T <: Product: TypeTag](s: SparkSession,
      dir: String)(f: (Long, IndexedSeq[SirRow]) => Iterator[T]): Dataset[T] = {
    import s.implicits._
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    Tables.load(s, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 30)
      .select(col("l_suppkey").as("key"), col("rn"),
        col("l_quantity").as("qty"), col("l_discount").as("disc"),
        col("l_tax").as("tax"))
      .as[SirRow]
      .groupByKey(_.key)
      .flatMapGroups((key, it) => f(key, it.toIndexedSeq.sortBy(_.rn)))
  }

  /** The oracle's `base` CTE of [[sirSeries]], opening `WITH RECURSIVE`. */
  private[queries] val duckSirBase: String =
    """WITH RECURSIVE base AS (
              SELECT l_suppkey, rn, qty, disc, tax FROM (
                SELECT l_suppkey,
                  row_number() OVER (PARTITION BY l_suppkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn,
                  l_quantity AS qty, l_discount AS disc, l_tax AS tax
                FROM lineitem)
              WHERE rn <= 30)"""

  /** A per-user recurrence over the event values: each user's events as
    * [[EwmaRow]]s in (ts, event_id) order, handed sorted to `fold`, the
    * output ordered by (user_id, event_id). `rec` is the body of the
    * oracle's recursive CTE over the numbered events `base`, `out` the
    * select list over it. w19, w20, w21, w27 and w29 differ only in
    * these. */
  private def userFold[T <: Product: TypeTag](name: String,
      fold: (Long, IndexedSeq[EwmaRow]) => Iterator[T], rec: String,
      out: String): Q = Q(
    name,
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .select(col("user_id").as("key"), col("rn"),
          col("event_id").as("id"), col("value").as("v"))
        .as[EwmaRow]
        .groupByKey(_.key)
        .flatMapGroups((key, it) => fold(key, it.toIndexedSeq.sortBy(_.rn)))
        .toDF()
        .orderBy("user_id", "event_id")
    },
    Some(s"""WITH RECURSIVE base AS (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS rn
              FROM events),
            rec AS (
              $rec)
            SELECT $out
            FROM rec ORDER BY user_id, event_id"""))

  /** W5 sequential neighbor smoothing. Values < 50k are nulled (the
    * "missing" sensor readings), then per-customer order history is
    * smoothed with the reference's in-place recurrence.
    * Ref: covid_data_transform.py:204-237.
    */
  private val w5 = Q(
    "w5_seq_interpolate",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val rows = Tables.load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .select(col("o_custkey").as("key"), col("rn"),
          col("o_orderkey").as("id"),
          when(col("o_totalprice") < 50000, lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("v"))
        .as[FillRow]
      rows.groupByKey(_.key)
        .flatMapGroups { (key, it) =>
          val sorted = it.toIndexedSeq.sortBy(_.rn)
          val filled = Sequential.smoothFill(sorted.map(_.v))
          sorted.iterator.zip(filled.iterator).map { case (r, f) =>
            FillOut(key, r.id, f)
          }
        }
        .toDF()
        // no round(): both engines run the identical IEEE-double fold,
        // so the raw values match bit-for-bit; decimal rounding would
        // reintroduce half-way boundary disagreements (halving chains
        // produce exact .xxxx5 values constantly).
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""WITH RECURSIVE base AS (
              SELECT o_custkey, o_orderkey, rn, cnt, val,
                     lead(val) OVER (PARTITION BY o_custkey ORDER BY rn)
                       AS next_val
              FROM (
                SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_custkey) AS cnt,
                  CASE WHEN o_totalprice < 50000 THEN NULL
                       ELSE o_totalprice END AS val
                FROM orders)),
            an AS (
              SELECT o_custkey, count(val) = 0 AS allnull
              FROM base GROUP BY 1),
            fill AS (
              SELECT b.o_custkey, b.o_orderkey, b.rn, b.cnt, a.allnull,
                CASE WHEN a.allnull THEN 0.0
                     WHEN b.val IS NULL THEN 0.0 ELSE b.val END AS filled
              FROM base b JOIN an a USING (o_custkey) WHERE b.rn = 1
              UNION ALL
              SELECT b.o_custkey, b.o_orderkey, b.rn, b.cnt, f.allnull,
                CASE WHEN f.allnull THEN 0.0
                     WHEN b.rn = b.cnt THEN
                       CASE WHEN b.val IS NULL THEN 0.0 ELSE b.val END
                     WHEN b.next_val IS NULL THEN f.filled / 2
                     ELSE (f.filled + b.next_val) / 2 END
              FROM fill f JOIN base b
                ON b.o_custkey = f.o_custkey AND b.rn = f.rn + 1)
            SELECT o_custkey, o_orderkey, filled
            FROM fill ORDER BY o_custkey, o_orderkey"""))

  /** W6 discrete SIR recurrence per supplier over its first 30 ordered
    * lineitems: confirmed = l_quantity, removed0 = 10*l_tax, N = 1000,
    * alpha = 1e-5, beta = 0.05, covariate z1(t) = l_discount(t).
    * Ref: covid_simulator.py:193-212.
    */
  private val w6 = Q(
    "w6_sir_recurrence",
    (s, dir) => {
      sirSeries(s, dir) { (key, sorted) =>
          val sim = Sequential.sirSimulate(
            confirmed0 = sorted.head.qty, removed0 = 10.0 * sorted.head.tax,
            n0 = 1000.0, alpha = 1e-5, beta = 0.05,
            z1 = sorted.map(_.disc))
          sorted.iterator.zip(sim.iterator).map { case (r, (pc, pr, ps)) =>
            SirOut(key, r.rn, pc, pr, ps)
          }
        }
        .toDF()
        .orderBy("l_suppkey", "rn")
    },
    Some(duckSirBase + """,
            sim AS (
              -- CAST: bare 1000.0 / 10.0 literals are DECIMALs in
              -- DuckDB and would drag the whole recurrence into
              -- scale-1 decimal arithmetic.
              SELECT l_suppkey, rn, qty AS pc,
                     CAST(10.0 AS DOUBLE) * tax AS pr,
                     CAST(1000.0 AS DOUBLE) AS ps
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.l_suppkey, b.rn,
                f.pc + 1e-5 * f.ps * f.pc - 0.05 * f.pc - b.disc,
                f.pr + 0.05 * f.pc + b.disc,
                f.ps - 1e-5 * f.ps * f.pc
              FROM sim f JOIN base b
                ON b.l_suppkey = f.l_suppkey AND b.rn = f.rn + 1)
            SELECT l_suppkey, rn,
                   pc AS pred_confirmed,
                   pr AS pred_removed,
                   ps AS pred_susceptible
            FROM sim ORDER BY l_suppkey, rn"""))

  /** W7 autoregressive rollout: seed = the customer's last 5 order
    * totals (scaled 1e-5, oldest→newest), AR weights
    * [.05,.1,.15,.2,.45], bias .01, 10 steps fed back.
    * Ref: weather_pred.py:352-374.
    */
  private val w7 = Q(
    "w7_ar_rollout",
    (s, dir) => {
      import s.implicits._
      val weights = IndexedSeq(0.05, 0.1, 0.15, 0.2, 0.45)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val rows = Tables.load(s, dir, "orders")
        .withColumn("rd", row_number().over(w))
        .filter(col("rd") <= 5)
        .select(col("o_custkey").as("key"), col("rd"),
          (col("o_totalprice") / 100000.0).as("price"))
        .as[ArRow]
      rows.groupByKey(_.key)
        .flatMapGroups { (key, it) =>
          val sorted = it.toIndexedSeq.sortBy(_.rd)
          if (sorted.length < 5) Iterator.empty
          else {
            // rd = 1 is most recent → window is oldest-first
            val seed = sorted.sortBy(-_.rd).map(_.price)
            Sequential.arRollout(seed, weights, 0.01, 10)
              .iterator.zipWithIndex.map { case (p, i) =>
                ArOut(key, i + 1, p)
              }
          }
        }
        .toDF()
        .orderBy("o_custkey", "step")
    },
    Some("""WITH RECURSIVE seed AS (
              SELECT o_custkey,
                max(CASE WHEN rd = 5 THEN price END) AS x1,
                max(CASE WHEN rd = 4 THEN price END) AS x2,
                max(CASE WHEN rd = 3 THEN price END) AS x3,
                max(CASE WHEN rd = 2 THEN price END) AS x4,
                max(CASE WHEN rd = 1 THEN price END) AS x5
              FROM (
                SELECT o_custkey,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd,
                  o_totalprice / 100000.0 AS price
                FROM orders)
              WHERE rd <= 5
              GROUP BY 1 HAVING count(*) = 5),
            roll AS (
              SELECT o_custkey, 0 AS step, x1, x2, x3, x4, x5,
                     CAST(NULL AS DOUBLE) AS pred
              FROM seed
              UNION ALL
              SELECT o_custkey, step + 1, x2, x3, x4, x5,
                0.05*x1 + 0.1*x2 + 0.15*x3 + 0.2*x4 + 0.45*x5 + 0.01,
                0.05*x1 + 0.1*x2 + 0.15*x3 + 0.2*x4 + 0.45*x5 + 0.01
              FROM roll WHERE step < 10)
            SELECT o_custkey, step, pred
            FROM roll WHERE step >= 1 ORDER BY o_custkey, step"""))

  /** W19 (X120, beyond the reference): per-user EWMA of event values —
    * pandas `ewm(alpha=0.25).mean()` with `adjust=False` semantics,
    * the standard time-series smoother. Like W5-W7 this is a true
    * recurrence (each output feeds the next), so it runs as a
    * task-local typed fold per user key, distributed across users —
    * the high-cardinality axis. Both constants (0.25, 0.75) are exact
    * binary doubles and the fold's op order matches the oracle's
    * recursive CTE literally, so the hash match needs no rounding.
    */
  private val w19 = userFold("w19_ewma",
    (key, sorted) => {
      val sm = Sequential.ewma(sorted.map(_.v), 0.25, 0.75)
      sorted.iterator.zip(sm.iterator).map { case (r, e) =>
        EwmaOut(key, r.id, e)
      }
    },
    """SELECT user_id, event_id, rn, value AS e
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.user_id, b.event_id, b.rn,
                     0.25 * b.value + 0.75 * r.e
              FROM rec r JOIN base b
                ON b.user_id = r.user_id AND b.rn = r.rn + 1""",
    "user_id, event_id, e AS ewma")

  /** W20 (X160, beyond the reference): HOLT double-exponential
    * smoothing — level + linear trend, the next smoother up from w19's
    * EWMA and the core of Holt-Winters forecasting. True coupled
    * recurrence (level and trend each feed both next-step equations),
    * run as a task-local typed fold per user — distributed across the
    * high-cardinality key like w5-w7/w19. α=0.25, β=0.5 are exact
    * binary doubles and [[graft.ops.Sequential.holt]]'s op order is
    * mirrored literally in the recursive-CTE oracle (the trend step
    * REPEATS the level expression — recomputing a double from
    * identical operands is bit-stable), so the hash match needs no
    * rounding.
    */
  private val w20 = userFold("w20_holt_trend",
    (key, sorted) => {
      val sm = Sequential.holt(sorted.map(_.v), 0.25, 0.75, 0.5, 0.5)
      sorted.iterator.zip(sm.iterator).map { case (r, (l, b, f)) =>
        HoltOut(key, r.id, l, b, f)
      }
    },
    """SELECT user_id, event_id, rn, value AS l,
                     CAST(0 AS DOUBLE) AS b
              FROM base WHERE rn = 1
              UNION ALL
              SELECT bb.user_id, bb.event_id, bb.rn,
                     0.25 * bb.value + 0.75 * (r.l + r.b),
                     0.5 * ((0.25 * bb.value + 0.75 * (r.l + r.b)) - r.l)
                       + 0.5 * r.b
              FROM rec r JOIN base bb
                ON bb.user_id = r.user_id AND bb.rn = r.rn + 1""",
    """user_id, event_id, l AS level, b AS trend,
                   l + b AS forecast""")

  /** W21 (beyond the reference): Page's one-sided CUSUM drift detector
    * per user — S_t = max(0, S_{t-1} + (value_t − k)), alarm when
    * S_t > h. The sequential change-point primitive behind data-drift
    * monitors. k=64, h=256 are exact binary doubles chosen against the
    * events value distribution (mean ≈ 49.6) so the statistic decays
    * to zero in-control and fires on bursts. Same task-local typed
    * fold as w19/w20, distributed across users; max/+ are IEEE-exact,
    * so the recursive-CTE oracle matches bit-for-bit unrounded.
    */
  private val w21 = userFold("w21_cusum_drift",
    (key, sorted) => {
      val cs = Sequential.cusum(sorted.map(_.v), 64.0, 256.0)
      sorted.iterator.zip(cs.iterator).map { case (r, (sv, al)) =>
        CusumOut(key, r.id, sv, al)
      }
    },
    """SELECT user_id, event_id, rn,
                     greatest(CAST(0 AS DOUBLE),
                       CAST(0 AS DOUBLE) + (value - CAST(64 AS DOUBLE)))
                       AS s
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.user_id, b.event_id, b.rn,
                     greatest(CAST(0 AS DOUBLE),
                       r.s + (b.value - CAST(64 AS DOUBLE)))
              FROM rec r JOIN base b
                ON b.user_id = r.user_id AND b.rn = r.rn + 1""",
    """user_id, event_id, s AS cusum,
                   s > CAST(256 AS DOUBLE) AS alarm""")

  /** W27 (X202, beyond the reference): HOLT–WINTERS additive seasonal
    * smoothing per user — the triple-exponential forecaster that
    * completes the smoothing family (w19 EWMA → w20 Holt → this),
    * with a period-4 seasonal ring. Same task-local typed fold as its
    * siblings, distributed across users; constants α=0.25, β=0.5,
    * γ=0.125 are exact binary doubles and the recursive-CTE oracle
    * carries the seasonal ring as a LIST column updated in the
    * IDENTICAL op order — bit-for-bit hash match, no tolerance.
    */
  private val w27 = userFold("w27_holt_winters",
    (key, sorted) => {
      val hw = Sequential.holtWinters(sorted.map(_.v), 4,
        0.25, 0.75, 0.5, 0.5, 0.125, 0.875)
      sorted.iterator.zip(hw.iterator).map { case (r, (l, sn, f)) =>
        HwOut(key, r.id, l, sn, f)
      }
    },
    """SELECT user_id, event_id, rn, value AS lnew,
                     CAST(0 AS DOUBLE) AS bnew,
                     CAST(0 AS DOUBLE) AS snew,
                     [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                      CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)] AS ring
              FROM base WHERE rn = 1
              UNION ALL
              SELECT bb.user_id, bb.event_id, bb.rn,
                     0.25 * (bb.value - r.ring[1])
                       + 0.75 * (r.lnew + r.bnew) AS ln2,
                     0.5 * (ln2 - r.lnew) + 0.5 * r.bnew AS bn2,
                     0.125 * (bb.value - ln2) + 0.875 * r.ring[1] AS sn2,
                     r.ring[2:4] || [sn2] AS ring2
              FROM rec r JOIN base bb
                ON bb.user_id = r.user_id AND bb.rn = r.rn + 1""",
    """user_id, event_id, lnew AS level, snew AS seasonal,
                   lnew + bnew + ring[1] AS forecast""")

  /** X210 w29: 1-D Kalman filter (local-level model) per user over the
    * event-value series — the probabilistic cousin of the w19 EWMA
    * (a Kalman filter with constant gain IS an EWMA; here the gain
    * adapts as the variance converges). q=0.25, r=1.0 are exact binary
    * doubles; the gain/estimate/variance recurrence runs ONE division
    * per step in pinned op order, mirrored literally by the
    * recursive-CTE oracle (lateral aliases pp → k → xh → p), so all
    * three outputs hash bit-exact. Scale: one shuffle on user_id, then
    * task-local typed folds — identical cost envelope to w19/w20/w27.
    */
  private val w29 = userFold("w29_kalman_filter",
    (key, sorted) => {
      val kf = Sequential.kalman1d(sorted.map(_.v), 0.25, 1.0)
      sorted.iterator.zip(kf.iterator).map { case (r, (x, k, p)) =>
        KalmanOut(key, r.id, x, k, p)
      }
    },
    """SELECT user_id, event_id, rn, value AS xh,
                     CAST(1 AS DOUBLE) AS gain, CAST(1 AS DOUBLE) AS p
              FROM base WHERE rn = 1
              UNION ALL
              SELECT bb.user_id, bb.event_id, bb.rn,
                     r.xh + ((r.p + 0.25) / ((r.p + 0.25) + 1.0))
                       * (bb.value - r.xh) AS xh2,
                     (r.p + 0.25) / ((r.p + 0.25) + 1.0) AS k2,
                     (1.0 - (r.p + 0.25) / ((r.p + 0.25) + 1.0))
                       * (r.p + 0.25) AS p2
              FROM rec r JOIN base bb
                ON bb.user_id = r.user_id AND bb.rn = r.rn + 1""",
    "user_id, event_id, xh AS xhat, gain, p AS pvar")

  /** X285 w37: DYNAMIC TIME WARPING distance — the elastic series
    * similarity measure (alignment-invariant: two series tracing the
    * same shape at different speeds score close, where Euclidean
    * distance punishes every phase shift), the classic pre-embedding
    * tool for time-series clustering/retrieval. Every supplier's
    * quantity series is DTW-scored against a reference series
    * (supplier 0) with |a−b| step costs — ALL-INTEGER dynamic
    * programming, so the distance is exact and the oracle needs no
    * op-order pinning at all (any correct DP yields the same BIGINT;
    * the DuckDB replay walks the DP row-major through a recursive CTE
    * carrying the previous/current rows as LIST columns, the w27 ring
    * device). Scale: the reference is driver-bounded state (one
    * 10-long int array, the k-centroids discipline); each group folds
    * its own O(m·n) table task-locally in one mapGroups pass —
    * embarrassingly parallel, no shuffle beyond the groupBy.
    */
  private val w37 = Q(
    "w37_dtw_distance",
    (s, dir) => {
      import s.implicits._
      val obs = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("q"))
        .as[(Long, Long, Int, Long)]
      // Reference series: supplier 0's first 10 observations — bounded
      // driver state (10 longs), broadcast into the closure.
      val ref: Array[Long] = obs.filter(_._1 == 0L).collect()
        .sortBy(t => (t._2, t._3, t._4)).take(10).map(_._4)
      // loud-fail if a testdata regeneration switches to 1-based
      // supplier keys: an empty ref would otherwise surface as an
      // opaque ArrayIndexOutOfBounds in the DP while the oracle
      // silently returns zero rows (TestdataContractSpec pins this too)
      require(ref.nonEmpty,
        "w37 reference series empty: lineitem has no l_suppkey = 0")
      obs.groupByKey(_._1)
        .mapGroups { (supp, it) =>
          val b = it.toArray.sortBy(t => (t._2, t._3, t._4))
            .take(10).map(_._4)
          val m = ref.length; val n = b.length
          val d = Array.ofDim[Long](m, n)
          var i = 0
          while (i < m) {
            var j = 0
            while (j < n) {
              val c = math.abs(ref(i) - b(j))
              d(i)(j) = c + (
                if (i == 0 && j == 0) 0L
                else if (i == 0) d(0)(j - 1)
                else if (j == 0) d(i - 1)(0)
                else math.min(d(i - 1)(j),
                  math.min(d(i)(j - 1), d(i - 1)(j - 1))))
              j += 1
            }
            i += 1
          }
          (supp, n.toLong, d(m - 1)(n - 1))
        }
        .toDF("l_suppkey", "n_obs", "dtw_dist")
        .orderBy("l_suppkey")
    },
    Some("""WITH RECURSIVE obs AS (
              SELECT l_suppkey AS g, rn, CAST(l_quantity AS BIGINT) AS q
              FROM (SELECT l_suppkey, l_quantity,
                           row_number() OVER (PARTITION BY l_suppkey
                             ORDER BY l_orderkey, l_linenumber,
                                      l_quantity) AS rn
                    FROM lineitem)
              WHERE rn <= 10),
            ser AS (
              SELECT g, list(q ORDER BY rn) AS b,
                     CAST(count(*) AS BIGINT) AS n
              FROM obs GROUP BY g),
            ref AS (SELECT b AS a, n AS m FROM ser WHERE g = 0),
            dp(g, i, j, prev, cur) AS (
              SELECT s.g, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                     CAST([] AS BIGINT[]),
                     [abs(r.a[1] - s.b[1])]
              FROM ser s, ref r
              UNION ALL
              SELECT d.g,
                     CASE WHEN d.j + 1 >= s.n THEN d.i + 1 ELSE d.i END,
                     CASE WHEN d.j + 1 >= s.n THEN CAST(0 AS BIGINT)
                          ELSE d.j + 1 END,
                     CASE WHEN d.j + 1 >= s.n THEN d.cur ELSE d.prev END,
                     CASE WHEN d.j + 1 >= s.n
                          THEN [abs(r.a[CAST(d.i + 2 AS INT)] - s.b[1])
                                + d.cur[1]]
                          ELSE list_append(d.cur,
                            abs(r.a[CAST(d.i + 1 AS INT)]
                                - s.b[CAST(d.j + 2 AS INT)])
                            + CASE WHEN d.i = 0
                                   THEN d.cur[CAST(d.j + 1 AS INT)]
                                   ELSE least(
                                     d.prev[CAST(d.j + 2 AS INT)],
                                     d.prev[CAST(d.j + 1 AS INT)],
                                     d.cur[CAST(d.j + 1 AS INT)]) END)
                     END
              FROM dp d JOIN ser s ON s.g = d.g CROSS JOIN ref r
              WHERE d.i < r.m - 1 OR d.j < s.n - 1),
            fin AS (
              SELECT g, cur,
                     row_number() OVER (PARTITION BY g
                       ORDER BY i DESC, j DESC) AS rk
              FROM dp)
            SELECT f.g AS l_suppkey, s.n AS n_obs,
                   f.cur[CAST(s.n AS INT)] AS dtw_dist
            FROM fin f JOIN ser s ON s.g = f.g
            WHERE f.rk = 1 ORDER BY f.g"""))

  def all: Seq[Q] = Seq(w5, w6, w7, w19, w20, w21, w27, w29, w37)
}

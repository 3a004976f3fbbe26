package graft

import graft.plans.AsOf
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit proof of the custom as-of physical operator
  * ([[graft.plans.AsOfJoinExec]]): backward-inclusive semantics on
  * hand-built edge cases, invariance under adversarial input
  * partitioning (EnsureRequirements must re-shuffle/sort whatever it is
  * given), the planned shape (the exec + one hash exchange per side),
  * and the builder's loud-fail guards. Cross-engine conformance against
  * DuckDB's native ASOF JOIN is j19's registry row.
  */
class AsOfJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  // left: (id, key, t); right: (rkey, rt, v)
  private def leftDf = {
    import spark.implicits._
    Seq(
      (1L, 10L, 100L), // before any right row for key 10 -> null
      (2L, 10L, 200L), // exact tie with right t=200 -> inclusive match
      (3L, 10L, 250L), // between 200 and 300 -> 200
      (4L, 10L, 300L), // tie at 300 -> 300
      (5L, 10L, 9999L), // far after -> 300
      (6L, 20L, 500L), // key with no right rows -> null
      (7L, 30L, 50L), // key after right-only key 25 -> own key only
      (8L, 30L, 60L)
    ).toDF("id", "key", "t")
  }

  private def rightDf = {
    import spark.implicits._
    Seq(
      (10L, 200L, 2.0),
      (10L, 300L, 3.0),
      (25L, 1L, 9.0), // right-only key: must never leak to key 30
      (30L, 55L, 5.0)
    ).toDF("rkey", "rt", "v")
  }

  private val expected = Map(
    1L -> None, 2L -> Some(2.0), 3L -> Some(2.0), 4L -> Some(3.0),
    5L -> Some(3.0), 6L -> None, 7L -> None, 8L -> Some(5.0))

  private def check(l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame): Unit = {
    import spark.implicits._
    val got = AsOf.join(l, r, "key", "t", "rkey", "rt")
      .select(col("id"), col("v"))
      .as[(Long, Option[Double])].collect().toMap
    assert(got == expected, s"got $got")
  }

  test("backward-inclusive semantics on ties, gaps, and key boundaries") {
    check(leftDf, rightDf)
  }

  test("result is invariant under adversarial input partitioning") {
    // reversed sort + odd partition counts: EnsureRequirements must
    // install its own exchange+sort, so the answer cannot change
    check(leftDf.repartition(7).sortWithinPartitions(col("t").desc),
      rightDf.repartition(3).sortWithinPartitions(col("rt").desc))
    check(leftDf.coalesce(1), rightDf.repartition(5, col("v")))
  }

  test("planned shape: AsOfJoinExec with one hash exchange per side") {
    val p = AsOf.join(leftDf, rightDf, "key", "t", "rkey", "rt")
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix: the exec prints as
    // "AsOfJoin <keys>"
    assert(p.contains("AsOfJoin "), p.take(2000))
    // AQE's toString prints the current AND initial plans — count
    // DISTINCT exchanges (by partitioning key), not raw occurrences
    val exchanges = "Exchange hashpartitioning\\(([a-z]+#\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.size == 2, s"$exchanges\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      p.take(2000))
  }

  test("timestamp-typed time columns work (internal long micros)") {
    import spark.implicits._
    val l = Seq((1L, 10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02")),
      (2L, 10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "key", "t")
    val r = Seq((10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 7.0))
      .toDF("rkey", "rt", "v")
    val got = AsOf.join(l, r, "key", "t", "rkey", "rt")
      .select(col("id"), col("v")).as[(Long, Option[Double])]
      .collect().toMap
    assert(got == Map(1L -> Some(7.0), 2L -> None))
  }

  test("forward direction: first right row at-or-after, ties inclusive") {
    import spark.implicits._
    val got = AsOf.join(leftDf, rightDf, "key", "t", "rkey", "rt",
        forward = true)
      .select(col("id"), col("v")).as[(Long, Option[Double])]
      .collect().toMap
    val exp = Map(
      1L -> Some(2.0), // 100 -> first at-or-after is 200
      2L -> Some(2.0), // tie at 200 inclusive
      3L -> Some(3.0), // 250 -> 300
      4L -> Some(3.0), // tie at 300 inclusive
      5L -> None, // after the last right row
      6L -> None, // key with no right rows
      7L -> Some(5.0), // 50 -> 55 (key 25's rows must not leak)
      8L -> None) // 60 > 55
    assert(got == exp, s"got $got")
  }

  test("tolerance bounds the match gap in both directions") {
    import spark.implicits._
    // backward with tolerance 49: id=3 (t=250, match 200, gap 50) drops
    val back = AsOf.join(leftDf, rightDf, "key", "t", "rkey", "rt",
        toleranceUs = Some(49L))
      .select(col("id"), col("v")).as[(Long, Option[Double])]
      .collect().toMap
    assert(back(3L).isEmpty && back(2L).contains(2.0) &&
      back(4L).contains(3.0), s"got $back")
    // forward with tolerance 49: id=1 (t=100, next 200, gap 100) drops,
    // id=3 (t=250, next 300, gap 50) drops, id=7 (gap 5) stays
    val fwd = AsOf.join(leftDf, rightDf, "key", "t", "rkey", "rt",
        forward = true, toleranceUs = Some(49L))
      .select(col("id"), col("v")).as[(Long, Option[Double])]
      .collect().toMap
    assert(fwd(1L).isEmpty && fwd(3L).isEmpty && fwd(7L).contains(5.0),
      s"got $fwd")
  }

  test("null keys/times: left nulls null-extend, right nulls never match") {
    import spark.implicits._
    // DuckDB ASOF LEFT JOIN semantics: NULL never compares equal, so a
    // null left key/time emits the row null-extended, and a null right
    // key/time is skipped by the merge WITHOUT stranding the eligible
    // rows sorted after it (the nulls-first regression this test pins).
    val l = Seq(
      (1L, Some(10L), Some(250L)), // normal: matches rt=200
      (2L, None, Some(250L)),      // null key -> null-extend
      (3L, Some(10L), None),       // null time -> null-extend
      (4L, Some(10L), Some(400L))  // after null-time right row -> rt=300
    ).toDF("id", "key", "t")
    val r = Seq(
      (Some(10L), Some(200L), 2.0),
      (Some(10L), None, 99.0),     // null right time: never a candidate
      (Some(10L), Some(300L), 3.0),
      (None, Some(100L), 98.0)     // null right key: never a candidate
    ).toDF("rkey", "rt", "v")
    val back = AsOf.join(l, r, "key", "t", "rkey", "rt")
      .select(col("id"), col("v")).as[(Long, Option[Double])]
      .collect().toMap
    assert(back == Map(1L -> Some(2.0), 2L -> None, 3L -> None,
      4L -> Some(3.0)), s"got $back")
    val fwd = AsOf.join(l, r, "key", "t", "rkey", "rt", forward = true)
      .select(col("id"), col("v")).as[(Long, Option[Double])]
      .collect().toMap
    assert(fwd == Map(1L -> Some(3.0), 2L -> None, 3L -> None,
      4L -> None), s"got $fwd")
  }

  test("builder loud-fails on shared exprIds, bad names, bad types") {
    import spark.implicits._
    val df = Seq((1L, 1L, "x")).toDF("key", "t", "s")
    val e1 = intercept[IllegalArgumentException] {
      AsOf.join(df, df, "key", "t", "key", "t")
    }
    assert(e1.getMessage.contains("expression ids"))
    intercept[IllegalArgumentException] {
      AsOf.join(df, df.select(col("key").as("k2"), col("t").as("t2")),
        "nope", "t", "k2", "t2")
    }
    val e3 = intercept[IllegalArgumentException] {
      AsOf.join(df, df.select(col("key").as("k2"), col("t").as("t2"),
        col("s").as("s2")), "key", "s", "k2", "t2")
    }
    assert(e3.getMessage.contains("long/timestamp"))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** w38_theil_sen_sampled (X314): the deterministic pair-sampling
  * predicate behind the scale posture for exact Theil–Sen.
  *
  * Proves the three claims the row's Scaladoc makes:
  *   1. series with np ≤ B keep EVERY pair, so the sampled estimate
  *      EQUALS exact w23 (bit-for-bit — same pairs, same total order);
  *   2. deep series sample ≈ B pairs (keep-probability min(1, B/np));
  *   3. the predicate arithmetic is overflow-safe at ANY input
  *      magnitude — the Long evaluation Spark runs equals a BigInt
  *      reference for extreme i/j/user_id/np (the round-13 spelling
  *      cross-multiplied h·np, which wraps silently in non-ANSI Spark
  *      and raises in DuckDB once np > 2³¹).
  */
class WindowSpec extends AnyFunSuite with TempDirs {

  private val B = 500L
  private val M32 = 4294967296L // 2^32
  private val M20 = 1048576L // 2^20

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** Write a synthetic events.parquet (testdata schema subset the two
    * Theil–Sen rows touch, plus the columns Tables.load normalizes) and
    * return the directory usable as a Q's sfDir.
    */
  private def eventsDir(rows: Seq[(Long, Long, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("graft_windowspec")
    rows.toDF("event_id", "user_id", "value")
      .withColumn("ts", timestamp_micros(col("event_id") * 1000000L))
      .withColumn("event_type", lit("view"))
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // The predicate exactly as the query spells it, in Long arithmetic.
  private def keepLong(i: Long, j: Long, userId: Long, np: Long): Boolean = {
    val h = ((i % M20) * 2654435761L + (j % M20) * 40503L +
      (userId % M20) * 2246822519L) % M32
    h < (B * M32) / np
  }

  test("np <= B: sampled estimate equals exact w23 bit-for-bit") {
    // 4 users, 5..32 events each -> np in [10, 496], all under B=500.
    val rows = for {
      u <- 1L to 4L
      n = Seq(5, 17, 24, 32)(u.toInt - 1)
      k <- 1 to n
    } yield (u * 1000L + k, u,
      0.37 * k + math.sin(k * 1.7 + u) * 2.5) // linear + bounded noise
    val dir = eventsDir(rows)
    val exact = Registry.queries("w23_theil_sen")(spark, dir)
      .select(col("user_id"), col("n_pairs"), col("ts_slope")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sampled = Registry.queries("w38_theil_sen_sampled")(spark, dir)
      .collect()
    assert(sampled.length == 4 && exact.size == 4)
    sampled.foreach { r =>
      val (np, slope) = exact(r.getLong(0))
      assert(np <= B, s"test premise broken: np=$np")
      assert(r.getLong(1) == np, "n_pairs mismatch")
      assert(r.getLong(2) == np, s"np<=B must keep ALL pairs, " +
        s"sampled only ${r.getLong(2)} of $np")
      // identical kept set + identical (slope,i,j) rank selection
      // => the same IEEE double, exactly
      assert(r.getDouble(3) == slope, "estimate != exact w23 slope")
    }
  }

  test("deep series: sample size concentrates near the B=500 budget") {
    // one user, 3000 events -> np = 4,498,500; E[kept] ~= B.
    val rows = (1 to 3000).map(k => (k.toLong, 7L, 0.11 * k + (k % 13)))
    val r = Registry.queries("w38_theil_sen_sampled")(spark, eventsDir(rows))
      .collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 4498500L)
    val ns = r(0).getLong(2)
    // binomial sd ~= 22; +-150 is ~7 sigma, generous for hash quality
    assert(ns > 350 && ns < 650, s"sampled $ns, expected ~$B")
    // the estimate of a linear+bounded-sawtooth series must land near
    // the true slope (sanity, not a statistical claim)
    assert(math.abs(r(0).getDouble(3) - 0.11) < 0.05)
  }

  test("predicate Long arithmetic equals BigInt at extreme magnitudes") {
    val extremes = Seq(0L, 1L, 63L, M20 - 1, M20, M20 + 1, Int.MaxValue.toLong,
      M32 - 1, M32, 1L << 40, (1L << 62) + 12345L, Long.MaxValue)
    for {
      i <- extremes; j <- extremes; u <- extremes
      np <- Seq(1L, B, B + 1, Int.MaxValue.toLong, (1L << 33) + 7L,
        Long.MaxValue)
    } {
      val bi = (BigInt(i) % M20) * 2654435761L + (BigInt(j) % M20) * 40503L +
        (BigInt(u) % M20) * 2246822519L
      val refKeep = (bi % M32) < (BigInt(B) * M32) / np
      assert(keepLong(i, j, u, np) == refKeep,
        s"overflow divergence at i=$i j=$j u=$u np=$np")
      // ... and every intermediate stays inside Long (what makes the
      // DuckDB side raise-free): max term sum < 2^53 << 2^63
      assert(bi >= 0 && bi < BigInt(Long.MaxValue))
    }
  }

  test("np <= B admits every hash value (keep-all threshold proof)") {
    var np = 1L
    while (np <= B) {
      assert((B * M32) / np >= M32, s"np=$np would drop pairs")
      np += 1
    }
  }
}

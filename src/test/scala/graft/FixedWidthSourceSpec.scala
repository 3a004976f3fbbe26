package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the graft-fixedwidth DataSource V2 connector:
  * schema inference by sampling, column pruning, filter pushdown
  * (visible in the plan and EXACT in its evaluation), record-aligned
  * partition planning, and value fidelity vs the projection-based
  * decode it promotes (src15's substring/cast path).
  */
class FixedWidthSourceSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val cols =
    "k:1:10:long,name:11:25:string,grp:36:5,cents:41:15"

  /** Encode a deterministic 3-field fixed-width file and return its dir. */
  private lazy val dir: String = {
    import spark.implicits._
    val out = tempDir("fixedwidth_spec") + "/data"
    (0 until 500).map { i =>
      (i.toLong, s"name_$i", (i % 7).toLong, (i * 13 - 1000).toLong)
    }.toDF("k", "name", "grp", "cents")
      .select(concat(
        lpad($"k".cast("string"), 10, " "),
        rpad($"name", 25, " "),
        lpad($"grp".cast("string"), 5, " "),
        lpad($"cents".cast("string"), 15, " ")).as("value"))
      .repartition(3)
      .write.mode("overwrite").text(out)
    out
  }

  private def read() = spark.read.format("graft-fixedwidth")
    .option("columns", cols).load(dir)

  test("schema inference: typed fields honored, untyped sampled to long") {
    val sch = read().schema
    assert(sch.fieldNames.toSeq == Seq("k", "name", "grp", "cents"))
    assert(sch("k").dataType.typeName == "long")
    assert(sch("name").dataType.typeName == "string")
    // grp and cents carry no type in the spec -> inferred long
    assert(sch("grp").dataType.typeName == "long")
    assert(sch("cents").dataType.typeName == "long")
  }

  test("full-table values round-trip exactly (incl. negative numerics)") {
    val got = read().orderBy("k").collect()
    assert(got.length == 500)
    assert(got(0).getLong(0) == 0L && got(0).getString(1) == "name_0" &&
      got(0).getLong(3) == -1000L)
    assert(got(499).getLong(0) == 499L && got(499).getLong(3) == 499 * 13 - 1000)
  }

  test("filter pushdown reaches the scan and is exact") {
    import spark.implicits._
    val df = read().filter($"grp" === 3 && $"cents" > 0)
      .select("k", "name", "cents")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("EqualTo(grp,3)"), s"grp filter not pushed:\n$plan")
    assert(plan.contains("GreaterThan(cents,0)"), s"cents filter not pushed:\n$plan")
    val rows = df.collect()
    val expect = (0 until 500).filter(i => i % 7 == 3 && i * 13 - 1000 > 0)
    assert(rows.length == expect.size)
    assert(rows.map(_.getLong(0)).sorted.toSeq == expect.map(_.toLong))
  }

  test("column pruning: scan reads only projected fields") {
    val df = read().select("k")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: [k]"), s"not pruned:\n$plan")
    assert(df.as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sum == (0 until 500).map(_.toLong).sum)
  }

  test("pruned-out filter column still evaluates (filter refs decoded)") {
    import spark.implicits._
    val df = read().filter($"grp" === 0).select("k")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: [k]"), plan)
    assert(plan.contains("EqualTo(grp,0)"), plan)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 500).filter(_ % 7 == 0).map(_.toLong))
  }

  test("partition planning splits at exact record boundaries") {
    // force tiny partitions: record = 55 bytes + newline
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", null)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val df = read()
      val nParts = df.rdd.getNumPartitions
      assert(nParts > 3, s"expected many record-aligned slices, got $nParts")
      assert(df.count() == 500) // no record lost or doubled at slice edges
    } finally {
      if (prev == null)
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
      else spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  test("unsupported filters stay post-scan (correct residual split)") {
    import spark.implicits._
    // endswith has no v1 Filter pushdown mapping here -> Spark keeps it
    val df = read().filter($"name".endsWith("_7")).select("k", "name")
    assert(df.collect().map(_.getLong(0)).toSet ==
      (0 until 500).filter(i => s"name_$i".endsWith("_7")).map(_.toLong).toSet)
  }

  test("Not over a null field is SQL unknown, not true (3-valued eval)") {
    import org.apache.spark.sql.sources._
    val get: String => Any = {
      case "x" => null
      case "y" => java.lang.Long.valueOf(5L)
      case "s" => null
    }
    val F = graft.sources.FixedWidthFilters
    // the round-13 bug: two-valued !eval flipped unknown to KEEP
    assert(F.eval3(Not(EqualTo("x", 3L)), get).isEmpty)
    assert(!F.eval(Not(EqualTo("x", 3L)), get), "null x must not match <> 3")
    assert(F.eval3(Not(GreaterThan("x", 3L)), get).isEmpty)
    assert(F.eval3(Not(StringStartsWith("s", "a")), get).isEmpty)
    // Not(IsNull)/Not(IsNotNull) stay definite
    assert(F.eval(Not(IsNotNull("x")), get))
    assert(!F.eval(Not(IsNull("x")), get))
    // Kleene And/Or with an unknown operand
    assert(F.eval(Or(EqualTo("y", 5L), EqualTo("x", 1L)), get)) // T or U = T
    assert(F.eval3(Or(EqualTo("y", 4L), EqualTo("x", 1L)), get).isEmpty) // F or U
    assert(F.eval3(And(EqualTo("y", 5L), EqualTo("x", 1L)), get).isEmpty) // T and U
    assert(!F.eval(And(EqualTo("y", 4L), EqualTo("x", 1L)), get)) // F and U = F
    assert(F.eval3(Not(Or(EqualTo("y", 4L), EqualTo("x", 1L))), get).isEmpty)
  }

  test("pushed Not inside Or drops blank-numeric rows end-to-end") {
    import spark.implicits._
    // blank cents field for k % 5 == 0 -> decodes to null
    val out = tempDir("fixedwidth_null_spec") + "/data"
    (0 until 100).map { i =>
      val cents = if (i % 5 == 0) "" else (i * 13 - 200).toString
      f"$i%10d" + ("name_" + i).padTo(25, ' ') +
        f"${i % 7}%5d" + cents.reverse.padTo(15, ' ').reverse
    }.toDF("value").coalesce(1).write.mode("overwrite").text(out)
    val df = spark.read.format("graft-fixedwidth")
      .option("columns", cols).load(out)
      // Or blocks the inferred-IsNotNull rescue: the Not must be
      // three-valued INSIDE the scan or null-cents rows leak through
      .filter(($"cents" =!= 0L) || ($"grp" === 99L)).select("k")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Not(EqualTo(cents,0))"), s"Not not pushed:\n$plan")
    val got = df.collect().map(_.getLong(0)).sorted.toSeq
    val expect = (0 until 100)
      .filter(i => i % 5 != 0 && i * 13 - 200 != 0).map(_.toLong)
    assert(got == expect, s"null-cents rows leaked: got=${got.size} " +
      s"expect=${expect.size}")
  }
}

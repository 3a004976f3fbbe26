package graft

import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Testdata SCHEMA CONTRACT — one loud, self-explaining failure when the
  * driver regenerates /root/testdata with a different encoding.
  *
  * Motivation (round 7): the generator switched `events.ts` from INT64
  * nanoseconds to parquet TIMESTAMP(µs) and the old fixed `ts div 1000`
  * normalization became an AnalysisException inside 56 registry queries
  * and 59 test failures — none of which named the actual cause. This
  * spec asserts every table's column names and types up front, accepting
  * BOTH ts encodings the generator has shipped (the dispatch in
  * [[graft.ops.Tables.normalizeTs]] handles either), so the next drift
  * fails here first with a message that says what changed.
  */
class TestdataContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  // Dates in this fixture are parquet TIMESTAMP(µs); isAdjustedToUTC has
  // flipped across generator versions, so both tags are in-contract.
  private val tsLike: Set[DataType] =
    Set(TimestampType, TimestampNTZType)
  // events.ts additionally shipped as INT64 nanos (reads as BIGINT under
  // nanosAsLong=true) in rounds 1-6.
  private val eventsTsLike: Set[DataType] = tsLike + LongType

  private def raw(name: String) =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private def assertSchema(table: String,
      expected: Seq[(String, Set[DataType])]): Unit = {
    val actual = raw(table).schema.map(f => f.name -> f.dataType)
    assert(actual.map(_._1) == expected.map(_._1),
      s"$table column names drifted: expected ${expected.map(_._1)}, " +
        s"scanned ${actual.map(_._1)}")
    expected.zip(actual).foreach { case ((name, allowed), (_, actualDt)) =>
      assert(allowed.contains(actualDt),
        s"$table.$name type drifted: scanned $actualDt, contract allows " +
          s"${allowed.mkString("/")} — update graft.ops.Tables " +
          "normalization (and this contract) for the new encoding")
    }
  }

  private def one(dt: DataType): Set[DataType] = Set(dt)

  test("region/nation dims match contract") {
    assertSchema("region", Seq(
      "r_regionkey" -> one(IntegerType), "r_name" -> one(StringType)))
    assertSchema("nation", Seq(
      "n_nationkey" -> one(IntegerType), "n_name" -> one(StringType),
      "n_regionkey" -> one(IntegerType)))
  }

  test("customer/supplier/part dims match contract") {
    assertSchema("customer", Seq(
      "c_custkey" -> one(LongType), "c_name" -> one(StringType),
      "c_nationkey" -> one(IntegerType), "c_acctbal" -> one(DoubleType),
      "c_mktsegment" -> one(StringType)))
    assertSchema("supplier", Seq(
      "s_suppkey" -> one(LongType), "s_name" -> one(StringType),
      "s_nationkey" -> one(IntegerType), "s_acctbal" -> one(DoubleType)))
    assertSchema("part", Seq(
      "p_partkey" -> one(LongType), "p_name" -> one(StringType),
      "p_brand" -> one(StringType), "p_type" -> one(StringType),
      "p_size" -> one(IntegerType), "p_retailprice" -> one(DoubleType)))
  }

  test("orders/lineitem facts match contract") {
    assertSchema("orders", Seq(
      "o_orderkey" -> one(LongType), "o_custkey" -> one(LongType),
      "o_orderstatus" -> one(StringType), "o_totalprice" -> one(DoubleType),
      "o_orderdate" -> tsLike, "o_orderpriority" -> one(StringType)))
    assertSchema("lineitem", Seq(
      "l_orderkey" -> one(LongType), "l_partkey" -> one(LongType),
      "l_suppkey" -> one(LongType), "l_linenumber" -> one(IntegerType),
      "l_quantity" -> one(DoubleType), "l_extendedprice" -> one(DoubleType),
      "l_discount" -> one(DoubleType), "l_tax" -> one(DoubleType),
      "l_returnflag" -> one(StringType), "l_linestatus" -> one(StringType),
      "l_shipdate" -> tsLike))
  }

  test("lineitem keys are 0-based: supplier 0 exists (w37's reference series)") {
    // w37_dtw_distance anchors its DTW reference on l_suppkey = 0; a
    // regeneration switching to the 1-based TPC-H key convention would
    // empty that series (w37 now also loud-fails at runtime, but this
    // pins the invariant at the contract layer with a named cause)
    val n = graft.ops.Tables.load(spark, sfDir, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_suppkey") === 0L)
      .count()
    assert(n > 0, "lineitem has no l_suppkey = 0 rows — keys went 1-based?")
  }

  test("documents has a src0 source (d12's held-out eval set)") {
    // d12_decontaminate treats source 'src0' as the evaluation split; if
    // a regeneration renames sources, both engines would agree on an
    // EMPTY eval set and the row would pass while proving nothing —
    // pin the invariant here with a named cause instead
    val n = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("source") === "src0")
      .count()
    assert(n > 0, "documents has no source='src0' rows — sources renamed?")
  }

  test("events.props carries an integer $.k (f_variant/e3's JSON contract)") {
    // f_variant_funcs' cross-engine tolerance story assumes $.k is a
    // clean JSON integer: Spark's try_variant_get(int) NULLs a float
    // while DuckDB's TRY_CAST rounds it — only integer k keeps the two
    // miss-degradation paths value-identical. Pin it loudly.
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val bad = ev.select(get_json_object(col("props"), "$.k").as("k"))
      .filter(col("k").isNull || !col("k").rlike("^-?\\d+$"))
      .count()
    assert(bad == 0,
      s"$bad events rows whose props.$$.k is missing or non-integer")
  }

  test("events matches contract in any shipped ts encoding") {
    assertSchema("events", Seq(
      "event_id" -> one(LongType), "ts" -> eventsTsLike,
      "user_id" -> one(LongType), "event_type" -> one(StringType),
      "value" -> one(DoubleType), "props" -> one(StringType)))
  }

  test("documents/embeddings match contract") {
    assertSchema("documents", Seq(
      "doc_id" -> one(LongType), "text" -> one(StringType),
      "lang" -> one(StringType), "source" -> one(StringType),
      "n_chars" -> one(LongType)))
    assertSchema("embeddings", Seq(
      "vec_id" -> one(LongType),
      "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, false)),
      "label" -> one(IntegerType)))
  }

  test("documents text is printable ASCII and long enough for the " +
      "byte-indexed media rows") {
    // The mm* codec rows and src16 derive pixels/samples from
    // `substr(text, i, 1)` on the DuckDB side and `text.cast("binary")`
    // bytes on the Spark side — those agree ONLY while text is
    // single-byte (printable ASCII), and the rows index up to byte 36
    // (mm7: 3·w·h ≤ 36). If a regeneration ships multi-byte text or
    // shorter documents, fail HERE with the reason, not as 7 scattered
    // hash mismatches.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bad = docs.filter(!col("text").rlike("^[\\x20-\\x7e]*$")).count()
    assert(bad == 0,
      s"$bad documents contain non-printable-ASCII text; the byte-indexed" +
        " media rows (mm5-mm10, src16) assume 1 char == 1 byte")
    val short = docs.filter(length(col("text")) < 36).count()
    assert(short == 0,
      s"$short documents are shorter than 36 chars; media rows index" +
        " up to byte 36")
  }

  test("Tables.load normalizes events.ts to TimestampType") {
    val dt = graft.ops.Tables.load(spark, sfDir, "events")
      .schema("ts").dataType
    assert(dt == TimestampType,
      s"normalizeTs must yield TimestampType for every encoding, got $dt")
  }

  test("normalizeTs long branch still handles legacy INT64-nanos data") {
    import spark.implicits._
    val legacy = Seq(1640995200123456789L, 1640998800987654321L)
      .toDF("ts")
    val out = graft.ops.Tables.normalizeTs(legacy)
    assert(out.schema("ts").dataType == TimestampType)
    // exact integral div: 123456789 ns -> 123456 us
    val micros = out.select(
      org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts")))
      .as[Long].collect().toSeq
    assert(micros == Seq(1640995200123456L, 1640998800987654L))
  }
}

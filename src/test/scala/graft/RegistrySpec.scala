package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Smoke-level contract tests for the full query registry: every
  * registered query must build a plan and execute on the smallest
  * testdata without throwing; names must be unique; every oracle key
  * must have a query. (Value-level correctness is the driver's DuckDB
  * gate — dev/check.py — not this spec.)
  */
class RegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  test("query names are unique and oracle keys all resolve") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("no oracle is null or blank (object-init forward-reference trap)") {
    // a Q val referencing a shared SQL val declared LATER in its object
    // captures Some(null) at init time and kills the WHOLE round's
    // oracle_sql.json when Verify serializes it — fail here instead
    Registry.all.foreach { q =>
      q.oracle.foreach { o =>
        assert(o != null && o.trim.nonEmpty,
          s"${q.name}: null/blank oracle — move the shared SQL val above " +
            "its first use or make it a def")
      }
    }
  }

  /** The row groups that run the same oracle SQL on purpose, each with
    * what its later rows prove that the first does not. Any other
    * shared oracle is a row another row already proves.
    */
  private val sharedOracles: Map[Set[String], String] = Map(
    Set("e1_tumbling_window", "e10_stream_batch_equiv") ->
      "stream ≡ batch: the windowed stream replay lands on e1's batch answer",
    Set("e9_session_window_native", "e11_stream_session_equiv") ->
      "stream ≡ batch: the session-window stream replay lands on e9's answer",
    Set("e14_stream_tws_equiv", "e18_stream_fmgws_equiv") ->
      "stream ≡ batch: two keyed-state APIs land on the same running totals",
    Set("e15_foreachbatch_sink_equiv", "e16_stream_checkpoint_resume",
        "e23_stream_rate_limit", "e37_file_sink_txn_log") ->
      "stream ≡ batch: four sink and trigger paths land on one type rollup",
    Set("s5_ivf_kmeans", "s14_ivf_persist") ->
      "the IVF index served from parquet equals the one built in the plan")

  test("no two rows share an oracle unless the group is a named equivalence proof") {
    val groups = SparkEntry.oracleSql.toSeq
      .groupBy { case (_, sql) => sql.trim.split("\\s+").mkString(" ") }
      .values.map(_.map(_._1).toSet).filter(_.size > 1).toSet
    val unnamed = groups -- sharedOracles.keySet
    assert(unnamed.isEmpty, s"rows sharing an oracle with no named reason: $unnamed")
    val stale = sharedOracles.keySet -- groups
    assert(stale.isEmpty, s"named groups that no longer share an oracle: $stale")
  }

  /** Row groups allowed to share a code window, each with its reason
    * (a benchmark row whose code must stay byte-identical, say). Empty
    * while no two rows share one: a family of near-clone rows shares a
    * private builder instead. */
  private val sharedWindows: Map[Set[String], String] = Map()

  /** Each registry row's body in the query files, keyed by row name:
    * the lines after its `val … = Q(` head and name, up to the next
    * member of its object, whitespace-normalised, with comment lines,
    * block comments and trailing `//` comments dropped, blanks skipped.
    * Rows built by a shared builder are one line and share nothing. */
  private def rowBodies(): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val head = """^  (?:private )?(?:lazy )?val \w+ = Q\($""".r
    val member = """^(  \S|\S)""".r
    val quoted = "\"([^\"]+)\"".r
    val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val files = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.flatMap { f =>
      val rows = Map.newBuilder[String, Seq[String]]
      var row: Option[(Option[String], scala.collection.mutable.Builder[String, Seq[String]])] = None
      var inBlock = false
      def close(): Unit =
        row.foreach { case (n, b) => n.foreach(rows += _ -> b.result()) }
      java.nio.file.Files.readAllLines(f).asScala.foreach { l =>
        val t = l.trim
        if (head.matches(l)) { close(); row = Some((None, Seq.newBuilder[String])) }
        else if (member.findPrefixOf(l).isDefined) { close(); row = None }
        else row.foreach {
          case (None, b) if quoted.findFirstIn(l).isDefined =>
            row = Some((quoted.findFirstMatchIn(l).map(_.group(1)), b))
          case (_, b) =>
            if (inBlock) inBlock = !t.contains("*/")
            else if (t.startsWith("/*") && !t.contains("*/")) inBlock = true
            else if (!t.startsWith("/*") && !t.startsWith("*")) {
              val s = l.replaceAll("(^|\\s)//.*$", "").trim.split("\\s+").mkString(" ")
              if (s.nonEmpty) b += s
            }
        }
      }
      close()
      rows.result()
    }.toMap
  }

  test("no two rows share an 8-line code window unless the group is named") {
    val windows = rowBodies().toSeq.flatMap { case (row, lines) =>
      lines.sliding(8).filter(_.size == 8).map(_.mkString("\n"))
        .filter(_.length >= 150).map(_ -> row)
    }.groupBy(_._1).values.map(_.map(_._2).toSet)
    val groups = windows.filter(_.size > 1).toSet
    val unnamed = groups -- sharedWindows.keySet
    assert(unnamed.isEmpty, s"rows sharing code with no named reason: $unnamed")
    val stale = sharedWindows.keySet -- groups
    assert(stale.isEmpty, s"named groups that no longer share code: $stale")
  }

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** `file:line` of every Scala line under src/ containing `needle`. */
  private def sitesOf(needle: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
          .collect { case (l, i) if l.contains(needle) => s"$f:${i + 1}" }
      }
  }

  test("every session is built by GraftSession, the only reader of the core-count env var") {
    val home = "src/main/scala/graft/GraftSession.scala"
    val builders = sitesOf("SparkSession" + ".builder(")
    assert(builders.size == 1 && builders.head.startsWith(home + ":"),
      builders.mkString("\n"))
    val envReads = sitesOf("SPARK_GRAFT" + "_CPUS").filterNot(_.startsWith(home + ":"))
    assert(envReads.isEmpty, envReads.mkString("\n"))
  }

  test("stream fixtures are staged as flat files by StreamReplay alone") {
    val home = "src/main/scala/graft/streaming/StreamReplay.scala"
    val sites = sitesOf("part-" + "*.parquet")
    assert(sites.size == 1 && sites.head.startsWith(home + ":"), sites.mkString("\n"))
  }

  test("table streams and run-to-end triggers live in StreamReplay alone") {
    val home = "src/main/scala/graft/streaming/StreamReplay.scala"
    // ".start()" too: every stream starts through StreamReplay.start
    val sites = Seq("pathGlob" + "Filter", "Trigger." + "AvailableNow", "." + "start()")
      .flatMap(sitesOf).filter(_.startsWith("src/main/"))
    assert(sites.nonEmpty && sites.forall(_.startsWith(home + ":")), sites.mkString("\n"))
  }

  test("streaming proofs read their sinks back with a declared schema, through StreamReplay") {
    val home = "src/main/scala/graft/streaming/StreamReplay.scala"
    def inScope(site: String) = site.startsWith("src/main/scala/graft/streaming/") ||
      site.startsWith("src/main/scala/graft/queries/EventQueries.scala:")
    // an inferring read runs a footer-merge job; the typed one plans without
    val inferring = sitesOf(".read" + ".parquet(").filter(inScope)
    val typed = sitesOf(".read" + ".schema(").filter(inScope)
    assert(inferring.isEmpty && typed.nonEmpty && typed.forall(_.startsWith(home + ":")),
      (inferring ++ typed.filterNot(_.startsWith(home + ":"))).mkString("\n"))
  }

  test("the LSTM cell and the IRLS round are written in their ops kernels alone") {
    // the sigmoid spelling and the IRLS working response
    val strays = Seq(
      "math.exp" + "(-" -> "src/main/scala/graft/ops/Lstm.scala",
      "/ col(\"" + "mu\")" -> "src/main/scala/graft/ops/Irls.scala")
      .flatMap { case (needle, home) =>
        val sites = sitesOf(needle).filter(_.startsWith("src/main/"))
        assert(sites.exists(_.startsWith(home + ":")), s"$needle left $home")
        sites.filterNot(_.startsWith(home + ":"))
      }
    assert(strays.isEmpty, strays.mkString("\n"))
  }

  test("the file: filesystem is installed by graft.io.LocalFs alone, never by a session conf") {
    val home = "src/main/scala/graft/io/LocalFs.scala"
    val sites = Seq("fs." + "file.impl", "fs.AbstractFileSystem." + "file.impl")
      .flatMap(sitesOf).filter(_.startsWith("src/main/"))
    assert(sites.nonEmpty && sites.forall(_.startsWith(home + ":")), sites.mkString("\n"))
    val confs = sitesOf("spark.hadoop." + "fs.")
      .filter(_.startsWith("src/main/scala/graft/GraftSession.scala:"))
    assert(confs.isEmpty, confs.mkString("\n"))
  }

  test("src9_compaction compacts to 4 files at leaf-node parallelism 1, 2, 4 and 8") {
    val q = Registry.all.find(_.name == "src9_compaction").get
    for (par <- Seq(1, 2, 4, 8)) {
      val after = graft.streaming.StreamReplay.withConf(spark,
          "spark.sql.leafNodeDefaultParallelism", par.toString) {
        q.fn(spark, sfDir).select("files_after").head().getLong(0)
      }
      assert(after == 4L, s"files_after $after at leaf-node parallelism $par")
    }
  }

  Registry.all.foreach { q =>
    test(s"${q.name} executes on sf0.001") {
      // Runner releases the row's caches and checkpoint blocks, and the
      // drain stops its streams and drops its stream_* views, as Bench
      // and Verify do
      val run = Runner.run(spark) {
        val df = q.fn(spark, sfDir)
        df.count()
        df.queryExecution.executedPlan.toString
      }
      Runner.drainStreams(spark)
      val p = run.fold(why => fail(s"${q.name} failed: $why"), identity)
      // Blanket plan audit (round 9): NO query's final plan may contain
      // an unkeyed CartesianProduct — the quadratic-blowup operator a
      // dropped join key silently buys. (Deliberate 1-row scalar
      // crossJoins plan as BroadcastNestedLoopJoin over a broadcast
      // single row, not CartesianProduct, so they stay allowed.)
      assert(!p.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct:\n" + p.take(1500))
    }
  }
}

package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: a closed loop, one driver thread, one
  * call at a time. `run.py` writes the run's spec (a properties file) and
  * reads back the JSON-lines records this writes; all metric arithmetic
  * and the comparison with goldens happen there.
  *
  * Phases, in order:
  *  0. warm-up, untimed: a throwaway session resolves the workload's
  *     inputs and runs one small aggregate, so the JVM's own class
  *     loading and first compilations stay out of every timed number.
  *  1. setup: the session is built `setups` times (all but the last are
  *     stopped again) and the workload's inputs are resolved in it; each
  *     build is timed.
  *  2. cold: every call once, in the seed's first order.
  *  3. warm: whole passes in fresh seed orders until `seconds` elapse,
  *     then the heap retained after full collections. Untraced, only the
  *     StreamingQueryListener is attached here, for the micro-batch times
  *     of the end-to-end report.
  *  4. check: every call once more, untimed, returning what its output
  *     check needs. The other layer listeners are attached for this pass
  *     (all of them from setup on when tracing), so it also yields the
  *     input rows of the end-to-end report.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spec = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try spec.load(in) finally in.close()
    def get(k: String): String = Option(spec.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"spec is missing '$k'"))
    val rec = new Records(get("records"))
    val code = try { run(spec, get, rec); 0 } catch { case e: Throwable =>
      e.printStackTrace()
      rec.write("fatal", "error" -> e.getClass.getName, "message" -> e.getMessage)
      1
    } finally rec.close()
    // Spark leaves non-daemon threads behind; the records are closed.
    System.exit(code)
  }

  private def run(spec: java.util.Properties, get: String => String,
      rec: Records): Unit = {
    val trace = get("trace") == "1"
    val seed = get("seed").toLong
    val seconds = get("seconds").toDouble
    val confs = spec.stringPropertyNames.asScala.toSeq.sorted
      .filter(_.startsWith("conf.")).map(k => k.stripPrefix("conf.") -> spec.getProperty(k))

    def session(): SparkSession = {
      val s = confs.foldLeft(SparkSession.builder().master(get("master"))) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val tables = Option(spec.getProperty("data_dir")).toSeq
      .flatMap(dir => graft.ops.Tables.names.map(dir -> _))
    // 0. warm-up
    val (_, warmupS) = Outcome.time {
      val warmup = session()
      tables.foreach { case (dir, t) => graft.ops.Tables.load(warmup, dir, t) }
      warmup.range(0, 100000, 1, 4).selectExpr("id % 7 AS k", "id")
        .groupBy("k").count().collect()
      warmup.stop()
    }
    rec.write("warmup", "s" -> warmupS)
    // 1. setup
    var spark: SparkSession = null
    var tracer: Tracer = null
    val setups = get("setups").toInt
    for (i <- 1 to setups) {
      val t0 = System.nanoTime()
      spark = session()
      if (trace) { tracer = new Tracer(spark, rec); tracer.install() }
      tables.foreach { case (dir, t) => graft.ops.Tables.load(spark, dir, t) }
      rec.write("setup", "i" -> i, "s" -> (System.nanoTime() - t0) / 1e9)
      if (i < setups) spark.stop()
    }
    if (!trace) { tracer = new Tracer(spark, rec); tracer.installBatches() }
    val sc = spark.sparkContext
    val workload: Workload = get("kind") match {
      case "registry" => new RegistryWorkload(spark, get("data_dir"),
        get("calls").split(",").toSeq)
      case "covid" => new CovidWorkload(spark, get)
      case k => throw new IllegalArgumentException(s"unknown workload kind '$k'")
    }
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

    def exec(phase: String, pass: Int, name: String, detail: Boolean): Unit = {
      val check = phase == "check"
      val tag = s"$phase:$pass:$name"
      sc.setJobGroup(tag, tag)
      val (cg0, gc0) = if (detail) (Codegen.sample(), gcMs) else (null, 0L)
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = if (check) Outcome(workload.check(name)) else workload.run(name)
      val t1 = System.nanoTime()
      val end = System.currentTimeMillis()
      sc.clearJobGroup()
      val extra = if (detail) Codegen.delta(cg0, Codegen.sample()) :+
        ("driver_gc_ms" -> (gcMs - gc0)) else Nil
      val cleanupS = workload.afterCall()
      rec.write("call", (Seq("phase" -> phase, "pass" -> pass, "name" -> name,
        "tag" -> tag, "start_ms" -> start, "end_ms" -> end,
        "wall_s" -> (t1 - t0) / 1e9, "cleanup_s" -> cleanupS) ++
        r.fields ++ extra): _*)
    }

    val rnd = new Random(seed)
    def endPass(phase: String, n: Int): Unit =
      rec.write("pass_end", "phase" -> phase, "pass" -> n,
        "cleanup_s" -> workload.afterPass())
    def pass(phase: String, n: Int, detail: Boolean): Unit = {
      workload.order(rnd).foreach(exec(phase, n, _, detail))
      endPass(phase, n)
    }

    // 2. cold
    pass("cold", 0, trace)
    // 3. warm
    val w0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - w0) / 1e9 < seconds) {
      passes += 1
      pass("warm", passes, trace)
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    // Collect, let the ContextCleaner release what the collection freed
    // (broadcast and shuffle blocks), and collect again.
    System.gc()
    Thread.sleep(500)
    System.gc()
    rec.write("warm", "passes" -> passes, "s" -> warmS,
      "retained_heap_bytes" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    // 4. check
    if (!trace) tracer.installQueries()
    pass("check", passes + 1, detail = true)
    spark.stop()
  }
}

/** Fields of one timed call. */
final case class Outcome(fields: Seq[(String, Any)])

object Outcome {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The failure record: exception class and the first line of its message. */
  def failure(e: Throwable): Seq[(String, Any)] = Seq(
    "error" -> e.getClass.getName,
    "message" -> Option(e.getMessage).map(_.linesIterator.take(1).mkString.take(300))
      .getOrElse(""))
}

trait Workload {
  def calls: Seq[String]
  /** The call order of the next pass. */
  def order(rnd: Random): Seq[String]
  /** Runs one call (timed by the caller); failures are returned, not thrown. */
  def run(name: String): Outcome
  /** Runs one call for its output check: fields for `run.py` to judge. */
  def check(name: String): Seq[(String, Any)]
  /** Untimed cleanups after a call and after a pass; return their seconds. */
  def afterCall(): Double
  def afterPass(): Double
}

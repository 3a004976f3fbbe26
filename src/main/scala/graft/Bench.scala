package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // Optional dev filter: `runMain graft.Bench d7_jaccard_dfcap d8_...`
    // times only the named queries (driver invokes with no args → all).
    val only = args.toSet
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    // Accumulated state the emitter reads — kept up to date as passes
    // complete so a late crash still reports everything measured so far.
    val results = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // The round-7 driver bench died rc=1 with NO output line: an async
    // RejectedExecutionException reached Spark's uncaught-exception
    // handler, which System.exit(56)'d the JVM before the result printed.
    // Defense in depth: (a) the JSON line + file are emitted from a
    // `finally`; (b) a JVM shutdown hook emits the best-known partial
    // result too — shutdown hooks DO run on System.exit, so even the
    // uncaught-handler path now yields a parseable artifact.
    val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
    def emit(): Unit = if (emitted.compareAndSet(false, true)) {
      import scala.jdk.CollectionConverters._
      val ordered = queries.keys.toSeq
        .flatMap(k => Option(results.get(k)).map(k -> _))
      val qs = ordered.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = ordered.map(_._2).sum
      val failedJson = failed.asScala.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
      // The driver's BENCH artifact preserves only a ~2.2 KB stdout
      // window of unknown direction. At 350 registry queries the full
      // line is ~15 KB, so a tail capture cuts off its HEAD
      // ("value":total) and a head capture its TAIL — either way the
      // driver's parsed field goes null (rounds 8-9). Bench writes
      // nothing else to stdout (Spark logs go to stderr), so emission
      // order fully controls the capture: a compact <1 KB summary line
      // goes out FIRST and again LAST, bracketing the full per-query
      // line (which is also committed to BENCH_LOCAL_r{N}.json) —
      // whichever end of stdout the driver keeps, it starts or ends
      // with one complete, parseable JSON object carrying the total.
      val outFile =
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
      val compact =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":{},"nqueries":${ordered.size},"queries_file":"$outFile","failed":$failedJson,"sf":"$sfDir"}"""
      println(compact)
      println(line)
      println(compact)
      System.out.flush()
    }
    val hook = new Thread(() => emit(), "bench-emit-hook")
    Runtime.getRuntime.addShutdownHook(hook)
    try {
      // Two executions per query, BOTH timed, min recorded (since
      // round 12) — down from the original warmup+2 passes, which at
      // 256 registry queries cost ~45 min wall (the round-7 full
      // bench hit a 33-min thread-pool death mid-run). Pass 1 doubles
      // as the warmup (its number carries one-time codegen compile /
      // stream-setup cost); the min almost always lands on the warm
      // pass 2, and the second sample protects every row — including
      // the streaming semantics proofs, once timed in pass 2 only —
      // from a one-off ambient trough (the round-11 full bench ran
      // during a disk-throughput trough and every single-sample
      // streaming proof inflated 10-40×).
      //
      // Failures must be VISIBLE, not silently timed: a broken query's
      // time-to-exception must neither appear as its per-query number nor
      // contribute to the headline total — only successful passes count.
      // Runner's release runs OUTSIDE the timed region.
      for (_ <- 1 to 2) {
        queries.foreach { case (name, fn) =>
          Runner.run(spark) {
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          } match {
            case Right(dt) => results.merge(name, dt, math.min(_, _))
            case Left(why) =>
              failed.add(name)
              System.err.println(s"[bench] $name failed: $why")
          }
        }
        Runner.drainStreams(spark)
      }
    } finally {
      emit()
    }
    try { Runtime.getRuntime.removeShutdownHook(hook) }
    catch { case _: Throwable => () }
    // A shutdown-time async failure after the line is out must not flip
    // the exit code: the artifact is already durable.
    try spark.stop() catch { case e: Throwable =>
      System.err.println(s"[bench] ignored stop-time failure: ${e.getMessage}") }
  }
}

package graft.io

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.streaming.StreamReplay
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
import org.scalatest.funsuite.AnyFunSuite

/** Counts the processes local file I/O starts, not the time it takes:
  * a child JVM on the test classpath runs a checkpointed streaming
  * round trip with `PATH` led by logging wrappers for the commands
  * Hadoop's local filesystem shells out to. The log must hold only the
  * control's one `chmod`, from a stock `RawLocalFileSystem`. */
class ProcessCountSpec extends AnyFunSuite with graft.TempDirs {

  private val commands = Seq("chmod", "readlink", "ls", "stat", "chown")

  /** A dir of `#!/bin/sh` wrappers that append their command line to
    * `log` and exec the real command found on `path`. */
  private def wrappers(dir: JPath, log: JPath, path: Seq[String]): Unit = commands.foreach { c =>
    val real = path.map(d => new File(d, c)).find(_.canExecute)
      .getOrElse(fail(s"$c not found on PATH"))
    val w = dir.resolve(c)
    Files.writeString(w, s"""#!/bin/sh
      |echo "$c $$*" >> '$log'
      |exec '$real' "$$@"
      |""".stripMargin)
    w.toFile.setExecutable(true)
  }

  /** The forked test JVM's module opens and system properties, which
    * the child needs to run Spark on this JDK. */
  private def jvmOptions: Seq[String] = {
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    args.zip(args.drop(1) :+ "").collect {
      case (a, v) if a == "--add-opens" => Seq(a, v)
      case (a, _) if a.startsWith("--add-opens=") || a.startsWith("-D") => Seq(a)
    }.flatten
  }

  test("a checkpointed streaming round trip starts no chmod, readlink, ls, stat or chown process") {
    val base = Paths.get(tempDir("proc_count"))
    val bin = Files.createDirectory(base.resolve("bin"))
    val tmp = Files.createDirectory(base.resolve("tmp"))
    val log = base.resolve("commands.log")
    Files.createFile(log)
    val path = sys.env.getOrElse("PATH", "").split(File.pathSeparator).toSeq
    wrappers(bin, log, path)
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val cmd = Seq(java, "-Xmx1g") ++ jvmOptions.filterNot(_.startsWith("-Djava.io.tmpdir")) ++
      Seq(s"-Djava.io.tmpdir=$tmp", "-cp", System.getProperty("java.class.path"),
        "graft.io.ProcessCountProbe", base.resolve("control").toString)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(base.resolve("child.out").toFile)
    pb.environment().put("PATH", (bin.toString +: path).mkString(File.pathSeparator))
    val child = pb.start()
    val done = child.waitFor(10, TimeUnit.MINUTES)
    if (!done) child.destroyForcibly()
    val out = Files.readAllLines(base.resolve("child.out")).asScala
    assert(done && child.exitValue == 0 && out.contains(ProcessCountProbe.Ok),
      out.takeRight(40).mkString("\n"))
    val lines = Files.readAllLines(log).asScala.toSeq
    val control = base.resolve("control").toFile.getCanonicalPath
    assert(lines == Seq(s"chmod 0644 $control"), lines.take(40).mkString("\n"))
  }
}

/** The child of [[ProcessCountSpec]]: `args(0)` is the control file. */
object ProcessCountProbe {
  val Ok = "PROCESS COUNT PROBE OK"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(2)
    try {
      // the e16/e20/e37 shape: AvailableNow file source, dedup within the
      // watermark, parquet file sink, stopped and restarted on its checkpoint
      val d = StreamReplay.dirs(spark, "graft_proc_count")
      val ev = spark.range(0, 1500).select(col("id").as("event_id"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"))
      def runOnce(): Unit = StreamReplay.runToEnd(spark, 
        spark.readStream.schema(ev.schema).parquet(d.in)
          .withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("parquet").option("path", d.out)
          .option("checkpointLocation", d.ckpt))
      val first = ev.filter(col("event_id") < 1000)
      StreamReplay.stage(first.union(first), s"${d.in}/part0.parquet")
      runOnce()
      // ids 500..999 are redelivered inside the watermark and dropped
      StreamReplay.stage(ev.filter(col("event_id") >= 500), s"${d.in}/part1.parquet")
      runOnce()
      val out = spark.read.parquet(d.out)
      val (n, ids) = (out.count(), out.select("event_id").distinct().count())
      require(n == 1500 && ids == 1500, s"expected 1500 distinct rows, got $n rows, $ids ids")
    } finally spark.stop()
    val control = new File(args(0))
    control.createNewFile()
    val raw = new RawLocalFileSystem()
    raw.initialize(URI.create("file:///"), new Configuration())
    raw.setPermission(new Path(control.getPath),
      new FsPermission(Integer.parseInt("644", 8).toShort))
    println(Ok)
    // Spark leaves non-daemon threads behind
    System.exit(0)
  }
}

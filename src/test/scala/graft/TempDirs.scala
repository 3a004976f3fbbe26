package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch dirs a spec makes under `java.io.tmpdir` (a RAM disk on the
  * bench host), deleted when the spec ends. A spec that overrides
  * `afterAll` calls `super.afterAll()` from it. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh, empty dir named `prefix…`, deleted after the spec. */
  protected def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach { d =>
      // a walk lists a symlink as itself, so only the link is deleted
      val paths = Files.walk(d)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
}

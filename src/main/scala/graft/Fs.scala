package graft

import java.nio.file.{Files, Path}

/** Minimal filesystem helpers for the temp artifacts the engine's local
  * harnesses create (stream-dedup input/checkpoint dirs, per-run
  * warehouse dirs). */
object Fs {

  /** Best-effort recursive delete. The `Files.walk` stream is closed
    * explicitly — abandoning it leaks directory handles until GC in a
    * long-lived driver JVM. */
  def deleteRecursively(root: Path): Unit = {
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
    } finally s.close()
  }

  // JVM-exit cleanup: every test/CLI JVM otherwise leaves its temp dirs
  // (warehouses incl. full bucketed-table copies, spec scratch) behind in
  // /tmp. ONE static hook drains a queue — per-call hooks would
  // accumulate an unbounded thread per call in a long-lived driver.
  private val toDelete = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = toDelete.poll()
      while (p != null) {
        try deleteRecursively(p) catch { case _: Throwable => () }
        p = toDelete.poll()
      }
    }))

  /** A fresh temp directory, deleted recursively at JVM exit. */
  def tempDirDeletedAtExit(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    hookInstalled
    toDelete.add(d)
    d
  }
}

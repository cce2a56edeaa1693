package graft.core

import java.nio.file.{Files, Path}

/** The one temp-dir helper: every directory `src/main` makes under the
  * host temp dir is removed, with its contents, when the JVM exits.
  * `File.deleteOnExit` only removes EMPTY directories, so checkpoint,
  * parquet and spool trees made that way outlive every run. ONE shared
  * shutdown hook drains a queue of registered paths; a hook thread per
  * directory would pile up live threads across a long session. */
object TempDir {
  private val exitDeleteQueue = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val exitDeleteHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = exitDeleteQueue.poll()
      while (p != null) {
        try deleteTree(p) catch { case _: Throwable => () } // best-effort: exit-time cleanup
        p = exitDeleteQueue.poll()
      }
    }))

  /** A fresh temp dir named `prefix…`, deleted at exit. */
  def apply(prefix: String): Path = deleteTreeOnExit(Files.createTempDirectory(prefix))

  /** Register a file or directory tree for recursive deletion at exit. */
  def deleteTreeOnExit(p: Path): Path = {
    exitDeleteHook // register the single hook on first use
    exitDeleteQueue.add(p)
    p
  }

  /** Delete a file or directory tree now. */
  def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { val _ = Files.deleteIfExists(f) })
    finally walk.close()
  }
}

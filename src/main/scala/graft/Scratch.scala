package graft

import java.nio.file.{Files, LinkOption, Path}

/** JVM-wide managed scratch root for queries that materialize sink/source
  * round trips or stored index tables inside their own plan (q328 CSV/JSON,
  * q390 KLL table, q392 ORC, the q393 persisted ANN index): ONE temp root
  * per JVM, deleted recursively by a shutdown hook, so repeated harness
  * invocations stop leaking a directory per query run (before round 14 each
  * call site created its own never-deleted `Files.createTempDirectory`).
  *
  * Deliberately not tmpfs-pinned or configurable: these artifacts are
  * correctness-scale (KBs–MBs at sf0.01/sf0.1); a production deployment
  * stores its index tables at an explicit warehouse path via the ops-layer
  * `write(idx, path)` APIs, never through this helper.
  */
object Scratch {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(r)))
    r
  }

  // best-effort per node: a racing writer (e.g. a concurrent Spark shutdown
  // hook still flushing into a scratch dir between our list and delete) must
  // fail only its own subtree, never abort the rest of the sweep — an
  // exception here would kill the hook thread mid-tree and leave partial
  // leftovers that defeat the whole point of the managed root
  private def deleteRec(p: Path): Unit =
    try {
      // a symlink is deleted, never followed: its target may lie outside
      if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
        val children = Files.list(p)
        try children.forEach(c => deleteRec(c))
        finally children.close()
      }
      Files.deleteIfExists(p)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** A fresh directory under the managed root (cleaned up at JVM exit). */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString
}

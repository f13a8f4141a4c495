package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Scratch directories under one root, removed as a whole by [[cleanup]].
  *
  * The gate builders write staging, output and checkpoint dirs and return
  * LAZY frames that read them, so a dir must outlive its builder: it
  * cannot be deleted when the builder returns. The shared instance
  * ([[ScratchDirs.create]]) therefore roots every dir under one per-JVM
  * temp dir and deletes that root at JVM exit. */
final class ScratchDirs(rootPrefix: String) {

  private var root: Path = _

  /** A new empty dir named `prefix…` under the root (created on first
    * use, and again after a [[cleanup]]). */
  def create(prefix: String): Path = synchronized {
    if (root == null) root = Files.createTempDirectory(rootPrefix)
    Files.createTempDirectory(root, prefix)
  }

  /** Delete the root and every dir [[create]] made under it. */
  def cleanup(): Unit = synchronized {
    if (root != null && Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
    root = null
  }
}

object ScratchDirs {

  private lazy val jvm: ScratchDirs = {
    val dirs = new ScratchDirs("graft-scratch")
    // Hadoop's hook manager runs hooks by priority: 20 is below Spark's
    // (40, which stops the SparkContext and its streaming queries), so
    // the dirs go only after nothing can still be writing them.
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => dirs.cleanup(), 20)
    dirs
  }

  /** A new scratch dir under this JVM's root, deleted at JVM exit. */
  def create(prefix: String): Path = jvm.create(prefix)
}

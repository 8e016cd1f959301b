package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager

/** Scratch directories owned until JVM exit: the temp dirs queries stage
  * files in (the reference's operators stage into mktemp files before
  * they load) and the tools' session warehouse.
  *
  * A staged artifact must outlive the call that made it: the returned
  * frame reads it lazily. So nothing is deleted eagerly. One registry
  * and one shutdown hook delete every tree recursively at exit, whatever
  * landed in it after the call (files a later action or stream wrote,
  * files a query left when it threw). The hook runs in Hadoop's shutdown
  * hook manager below Spark's hooks (which Spark installs there at
  * `SHUTDOWN_HOOK_PRIORITY + 30`), so a session that is still open at
  * exit has stopped its context before its files go. */
object Scratch {
  private val dirs = new ConcurrentLinkedQueue[Path]()

  private lazy val hook: Unit = ShutdownHookManager.get().addShutdownHook(
    () => dirs.forEach(d => FileUtils.deleteQuietly(d.toFile)),
    FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)

  /** A fresh `graft-<tag>…` directory under `java.io.tmpdir`, deleted
    * with its whole tree at JVM exit. */
  def workDir(tag: String): Path = {
    hook
    val d = Files.createTempDirectory(s"graft-$tag")
    dirs.add(d)
    d
  }
}

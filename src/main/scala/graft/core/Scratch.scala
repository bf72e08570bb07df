package graft.core

import java.nio.file.{Files, LinkOption, Path}

import scala.jdk.CollectionConverters._

/** One scratch root per JVM for every temp directory the engine makes
  * (stream replay landings and checkpoints, interchange round-trips,
  * lake replays). The root is deleted recursively at JVM exit.
  *
  * Exit is the lifetime because nothing shorter is safe: a round-trip
  * query returns a LAZY frame over its temp files, and the streamed-gold
  * session caches reuse their landings across queries. The delete runs
  * from Hadoop's shutdown-hook manager at [[ExitPriority]], below the
  * priority 40 at which Spark's own hook (which stops the SparkContext)
  * runs, so no running job still reads the files, and above the
  * priority 10 at which Hadoop closes its cached file systems. */
object Scratch {

  private val ExitPriority = 30

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-")
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => delete(r), ExitPriority)
    r
  }

  /** A fresh directory under this JVM's scratch root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Deletes `p` and everything under it; an absent path is a no-op. */
  def delete(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val ls = Files.list(p)
      try ls.iterator().asScala.foreach(delete) finally ls.close()
    }
    Files.deleteIfExists(p)
  }
}

package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils

/** Scratch directories for the queries that write files and read them
  * back (sink roundtrips, compaction, checkpoints, fixtures). Each one is
  * created under a single per-JVM root, removed by a shutdown hook. The
  * DataFrames those queries return read their directories lazily, so
  * nothing is deleted before the JVM exits. */
object TempDirs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(r.toFile)))
    r
  }

  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)
}

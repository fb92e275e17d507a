package org.apache.spark.graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Counts the operating-system processes a block starts, with an
  * in-process JFR recording of `jdk.ProcessStart`. Every process the JVM
  * starts while the block runs counts, whichever thread started it, so a
  * caller that asserts on one kind of fork filters by command. */
object Forks {
  /** A process the JVM started: its command line and the Java stack that
    * started it, one frame per line. */
  final case class Fork(command: String, stack: String)

  def during(body: => Any): Seq[Fork] = {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("graft_forks", ".jfr")
    try {
      recording.start()
      try body finally recording.stop()
      recording.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .sortBy(_.getStartTime)
        .map { e =>
          val frames = Option(e.getStackTrace).fold(Seq.empty[String])(_.getFrames.asScala.toSeq
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}:${f.getLineNumber}"))
          Fork(e.getString("command"), frames.mkString("\n"))
        }
    } finally {
      recording.close()
      Files.deleteIfExists(file)
    }
  }
}

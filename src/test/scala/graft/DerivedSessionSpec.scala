package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.ForeachWriter
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Records the context class loader of every task that opens it. */
final class LoaderProbe extends ForeachWriter[Long] {
  override def open(partitionId: Long, epochId: Long): Boolean = {
    LoaderProbe.seen.add(Thread.currentThread.getContextClassLoader)
    true
  }
  override def process(v: Long): Unit = ()
  override def close(errorOrNull: Throwable): Unit = ()
}

object LoaderProbe {
  val seen = new ConcurrentLinkedQueue[ClassLoader]()
}

/** The two fixed confs of [[GraftSession.derived]], each pinned by the
  * mechanism it exists for. */
class DerivedSessionSpec extends SparkTestBase {

  test("successive streaming queries on derived sessions share one task class loader") {
    // with artifact isolation on, each clone's tasks ran under a fresh
    // ExecutorClassLoader, so the (loader, code)-keyed codegen cache
    // missed and every query recompiled its generated classes
    def scenarioLoaders(): Set[ClassLoader] = {
      LoaderProbe.seen.clear()
      val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = MemoryStream[Long](numPartitions = 2)
      val q = in.toDS().writeStream.foreach(new LoaderProbe).start()
      try {
        in.addData(1L, 2L, 3L)
        q.processAllAvailable()
      } finally q.stop()
      LoaderProbe.seen.asScala.toSet
    }
    val first = scenarioLoaders()
    val second = scenarioLoaders()
    assert(first.nonEmpty && second.nonEmpty, "no task opened the probe")
    assert((first ++ second).size == 1,
      s"tasks of successive derived sessions ran under different loaders: $first / $second")
  }

  test("derived sessions write checkpoint files through the FileSystem-based manager") {
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    val dir = TempDirs.create("graft_ckpt_probe").toString
    val mgr = CheckpointFileManager.create(new Path(dir), s.sessionState.newHadoopConf())
    assert(mgr.isInstanceOf[FileSystemBasedCheckpointFileManager],
      s"checkpoint manager is ${mgr.getClass.getName}")
  }
}

package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.{CheckpointFiles, StreamingOps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.Forks
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
  * mechanism it exists for: one task class loader across clones, and
  * checkpoint files written without a forked `chmod`. */
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
    assert(mgr.isInstanceOf[CheckpointFiles], s"checkpoint manager is ${mgr.getClass.getName}")
  }

  test("graft's checkpoint manager writes the stock manager's files: .crc sibling, same permissions") {
    val conf = GraftSession.derived(spark).sessionState.newHadoopConf()
    def written(mgr: (Path, Configuration) => CheckpointFileManager): Seq[Set[PosixFilePermission]] = {
      val dir = TempDirs.create("graft_ckpt_perm")
      val file = new Path(dir.resolve("sub/offsets/0").toString)
      val m = mgr(new Path(dir.toString), conf)
      m.mkdirs(file.getParent)
      val out = m.createAtomic(file, overwriteIfPossible = false)
      out.write("v1\n{}".getBytes("UTF-8"))
      out.close()
      val crc = dir.resolve("sub/offsets/.0.crc")
      assert(Files.exists(crc), s"no checksum file beside $file")
      Seq(dir.resolve("sub/offsets"), dir.resolve("sub/offsets/0"), crc)
        .map(p => Files.getPosixFilePermissions(p).asScala.toSet)
    }
    val graft = written(new CheckpointFiles(_, _))
    val stock = written(new FileSystemBasedCheckpointFileManager(_, _))
    assert(graft == stock, s"graft wrote $graft, the stock manager $stock")
  }

  test("a streaming query on a derived session forks no chmod") {
    SparkEntry.queries("streaming_concat_prefixes")(spark, sfDir).collect() // warm
    // Spark's ArtifactManager cleaner removes artifact directories with an
    // asynchronous `rm -rf`, which may land inside the recording
    val forks = Forks.during(SparkEntry.queries("streaming_concat_prefixes")(spark, sfDir).collect())
      .filterNot(_.command.startsWith("rm -rf"))
    assert(forks.isEmpty, forks.map(f => s"${f.command}\n${f.stack}").mkString("\n\n"))
  }
}

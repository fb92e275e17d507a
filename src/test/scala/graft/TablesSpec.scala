package graft

import java.io.File

import graft.stages.Stages
import org.apache.commons.io.FileUtils
import org.apache.spark.graft.Jobs

/** [[Tables]] resolves each table's parquet schema once per session: the
  * first read of a table runs the one schema-inference job, every later
  * read (derived sessions included) runs none. */
class TablesSpec extends SparkTestBase {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A copy of the fixture in a new directory: no session has read it yet. */
  private def freshDir(prefix: String): String = {
    val dir = TempDirs.create(prefix).toFile
    FileUtils.copyDirectory(new File(sfDir), dir)
    dir.toString
  }

  test("the memoized schema is the inferred one, for all 10 tables") {
    // events included: its raw ts, before the catalog normalizes it
    val dir = freshDir("tables_schema")
    for (name <- names) {
      val got = Tables.table(spark, dir, name).schema
      assert(got == spark.read.parquet(s"$dir/$name.parquet").schema, name)
    }
  }

  test("a table's first read runs the one inference job, the second runs none") {
    val dir = freshDir("tables_jobs")
    for (name <- names) {
      val first = Jobs.during(spark.sparkContext)(Tables.table(spark, dir, name))
      assert(first.size == 1, s"$name first read: $first")
      val second = Jobs.during(spark.sparkContext)(Tables.table(spark, dir, name))
      assert(second.isEmpty, s"$name second read: $second")
    }
    // the events reader sets its timestamp flag and reads the same entry
    val events = Jobs.during(spark.sparkContext)(Tables.events(spark, dir))
    assert(events.isEmpty, s"events: $events")
  }

  test("a derived session reads its root's schema: no job, no memo entry of its own") {
    val dir = freshDir("tables_derived")
    Tables.orders(spark, dir)
    val derived = GraftSession.derived(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val nested = GraftSession.derived(derived)
    assert(GraftSession.root(nested) eq spark)
    val jobs = Jobs.during(spark.sparkContext) {
      Tables.orders(derived, dir)
      Tables.orders(nested, dir)
    }
    assert(jobs.isEmpty, jobs)
    assert(Stages.keys(derived).isEmpty && Stages.keys(nested).isEmpty)
    assert(Stages.keys(spark).contains(s"schema:$dir/orders.parquet"))
  }

  test("each read is a fresh relation: a self-join tells its sides apart") {
    // only the schema is memoized; a memoized DataFrame would give both
    // sides the same expression ids
    val a = Tables.nation(spark, sfDir)
    val b = Tables.nation(spark, sfDir)
    val ids = Seq(a, b).map(_.queryExecution.analyzed.output.map(_.exprId).toSet)
    assert(ids(0).intersect(ids(1)).isEmpty)
    // 25 nations, 5 per region: 10 ordered pairs per region
    val pairs = a.join(b, a("n_regionkey") === b("n_regionkey") &&
      a("n_nationkey") < b("n_nationkey")).count()
    assert(pairs == 50L)
  }
}

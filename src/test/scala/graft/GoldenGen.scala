package graft

import java.nio.file.{Files, Paths}

/** Regenerates the committed golden fixtures (test-scope tool — never
  * part of the shipped library). Run after an INTENDED change to a
  * pinned model query, review the diff, commit:
  *
  *   sbt "Test/runMain graft.GoldenGen"
  *
  * Uses the SAME shared session as the test suite (local[8, 4], 4 shuffle
  * partitions) so the fixtures and [[GoldenFixtureSpec]] see identical
  * partial-aggregation layouts. */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get("src/test/resources/golden")
    Files.createDirectories(outDir)
    val spark = SparkTestBase.session
    val only = args.toSet
    GoldenFixtures.Pinned
      .filter(n => only.isEmpty || only(n))
      .foreach { name =>
        val df = SparkEntry.queries(name)(spark, GoldenFixtures.SfDir)
        val (header, lines) = GoldenFixtures.serialize(df)
        val path = outDir.resolve(s"$name.tsv")
        Files.write(path, (header +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
        println(s"[golden] wrote $path (${lines.size} rows)")
      }
    spark.stop()
  }
}

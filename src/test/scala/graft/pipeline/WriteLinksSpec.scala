package graft.pipeline

import graft.model.DependencyLink
import org.scalatest.funsuite.AnyFunSuite

/** The links sink overwrites one day partition through a write option,
  * without touching the caller's session conf. */
class WriteLinksSpec extends AnyFunSuite {
  private val Mode = "spark.sql.sources.partitionOverwriteMode"

  test("writeLinks rewrites one day, keeps the other days, and leaves the session conf as it was") {
    // a session of its own, so the static-mode default it checks against
    // is not one another spec changed
    val spark = SparkTestSession.get.newSession()
    import spark.implicits._
    spark.conf.set(Mode, "static")
    val out = java.nio.file.Files.createTempDirectory("links").toString
    def write(day: String, links: DependencyLink*): Unit =
      LinkJob.writeLinks(links.toDS(), day, out)
    write("2025-08-10", DependencyLink("a", "b", 1, 0))
    write("2025-08-11", DependencyLink("a", "b", 2, 0))
    write("2025-08-11", DependencyLink("c", "d", 3, 1))
    assert(spark.conf.get(Mode) == "static")
    val stored = spark.read.parquet(out)
      .selectExpr("cast(day as string)", "parent", "child", "callCount", "errorCount")
      .as[(String, String, String, Long, Long)].collect().sorted.toSeq
    assert(stored == Seq(("2025-08-10", "a", "b", 1L, 0L), ("2025-08-11", "c", "d", 3L, 1L)))
  }
}

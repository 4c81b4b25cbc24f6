package graft

/** [[Run]] on the shared test session: `jobs` counts are exact and
  * repeatable, `plan` writes the formatted plan, unknown names fail. */
class RunSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val name = "q104_find_fields_hybrid"

  private def counts(l: Run.Line) = Seq("jobs", "stages", "tasks").map(l(_))

  test("jobs: identical jobs/stages/tasks on two back-to-back calls") {
    val Seq(a) = Run.run(spark, "jobs", Seq(name), dir)
    val Seq(b) = Run.run(spark, "jobs", Seq(name), dir)
    assert(a("jobs").asInstanceOf[Int] > 0)
    assert(counts(a) == counts(b))
  }

  test("jobs: the count equals Bench.JobCounter around a direct call") {
    val Seq(line) = Run.run(spark, "jobs", Seq(name), dir)
    val counter = new Bench.JobCounter(spark.sparkContext)
    val (_, direct) =
      try counter(SparkEntry.queries(name)(spark, dir).count())
      finally {
        Caches.releaseAll()
        spark.sparkContext.removeSparkListener(counter.listener)
      }
    assert(line("jobs") == direct)
  }

  test("plan: writes the formatted physical plan to <outDir>/<name>.txt") {
    val out = java.nio.file.Files.createTempDirectory("graft-run-plan")
    val Seq(line) = Run.run(spark, "plan", Seq(name), dir, Some(out.toString))
    val file = out.resolve(s"$name.txt")
    assert(line("wrote") == file)
    assert(java.nio.file.Files.readString(file).contains("== Physical Plan =="))
  }

  test("an unknown query name fails with a message that names it") {
    val e = intercept[IllegalArgumentException] {
      Run.run(spark, "time", Seq(name, "q999_no_such_query"), dir)
    }
    assert(e.getMessage.contains("q999_no_such_query"))
  }
}

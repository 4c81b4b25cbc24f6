package graft

/** Bench's per-query job count is exact without settle sleeps: the
  * listener bus is drained around the counted block. */
class BenchJobCounterSpec extends SparkSpec {
  test("Bench.JobCounter: a 3-job block counts exactly 3, every time, back to back") {
    val sc = spark.sparkContext
    val counter = new Bench.JobCounter(sc)
    try (1 to 5).foreach { _ =>
      val (n, jobs) = counter((1 to 3).map(_ => sc.parallelize(1 to 100, 4).count()).sum)
      assert(n == 300L)
      assert(jobs == 3)
    } finally sc.removeSparkListener(counter.listener)
  }
}

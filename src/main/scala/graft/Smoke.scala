package graft

/** Smoke-checks the driver contract: `entry` returns rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Run.session()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println("[smoke] " + r.toString.take(120)))
    require(rows.nonEmpty, "entry returned 0 rows")
    spark.stop()
  }
}

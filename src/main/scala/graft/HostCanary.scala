package graft

import org.apache.spark.sql.SparkSession

/** The fixed synthetic Spark job behind the spark-canary leg — pure
  * compute (range → mod-key hash agg), no data files, never touched by
  * engine changes, so its timing moves ONLY with the host. Shared by
  * [[Bench]] (endpoint + interleaved samples, ratcheted best in
  * bench_best.json under `spark_canary_c{cpus}`) and
  * `graft.tools.ScaleStress` (per-row host-factor stamping, round 18 —
  * a stress row measured inside a degraded window must say so itself
  * instead of being explained after the fact). */
object HostCanary {

  /** One execution of the synthetic job (unmeasured — for warmup). */
  def sparkJobOnce(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.sum
    spark.range(100000000L)
      .selectExpr("id % 1000 as k", "id")
      .groupBy("k").agg(sum("id")).count()
    ()
  }

  /** One timed execution, seconds. */
  def sparkJobTimed(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    sparkJobOnce(spark)
    (System.nanoTime() - t0) / 1e9
  }

  /** The ONE reader of the flat bench_best.json format ([[Bench]]
    * owns the writer): `"key":number` pairs → map. A second parser of
    * the same file would silently drift if the format ever changed —
    * Bench and the stress tools both read through here. Unreadable or
    * absent file → empty (the best-file is advisory). */
  def readBests(path: java.nio.file.Path): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(path)
      """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Exception => Map.empty[String, Double] }

  /** The ratcheted spark-canary best for this cpu count, from the same
    * best-file Bench maintains — None when never recorded (ratios
    * against it are then unknowable; see
    * [[BenchPolicy.CanaryVerdict.sparkCalibrated]]). */
  def recordedBest(cpus: Int,
      path: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_BEST",
        "bench_best.json")): Option[Double] =
    readBests(java.nio.file.Paths.get(path)).get(s"spark_canary_c$cpus")

  /** Per-row host stamper for the stress tools: each row's stamp is
    * the slower of the two samples ENCLOSING its measurement — one
    * taken before the row's work starts (the previous row's closing
    * sample) and one right after it completes — over the ratcheted
    * best, so a window that opens anywhere inside the measurement
    * shows in at least one sample. Construction pays the codegen
    * warmup + the opening sample. Stamping at PRINT time instead (two
    * samples both after the measurement) misses a window that closes
    * before the print — the exact mid-suite failure mode the stamps
    * exist to catch. Uncalibrated (no recorded best for the session's
    * core count): raw seconds print instead of a factor. */
  final class Stamper(spark: SparkSession) {
    private val best = recordedBest(spark.sparkContext.defaultParallelism)
    sparkJobOnce(spark) // codegen warmup, untimed
    private var prev = sparkJobTimed(spark)

    /** Sample now; return the stamp for the work since the previous
      * mark — the slower of the two samples BRACKETING it. Call
      * immediately after a row's measurements complete: marking at
      * print time instead leaves both samples after the measurement,
      * and a window that closed before the print stamps host=1.0. */
    def mark(): String = {
      val s = sparkJobTimed(spark)
      val enclosing = math.max(prev, s)
      prev = s
      best.map(b => f"host=${enclosing / b}%.2fx")
        .getOrElse(f"host_raw=$enclosing%.3fs")
    }
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.tools.Timing

/** The one Spark session builder and the one per-query run harness.
  *
  * [[session]] is the session every main of the project runs on
  * (Bench, Verify, Smoke, Plans, the stress tools and this harness), so
  * their settings cannot drift apart. [[run]] measures named
  * [[SparkEntry.queries]] in one of four modes. Each query is called
  * once untimed first (plan codegen, JIT, memos), and every call
  * releases the request's caches ([[Caches.releaseAll]]) as serving
  * does:
  *   time:   min of `passes` (default 3) timed counts ([[Timing.measure]]);
  *   jobs:   the Spark jobs, stages and tasks of one call, counted
  *           exactly by [[Bench.JobCounter]] (no settle sleeps);
  *   phases: the min over `passes` (default 3) of each of build (the
  *           `queries(name)` call: API-side eager collects), plan
  *           (forcing `executedPlan`) and exec (the terminal count);
  *   plan:   `explain("formatted")` to `<outDir>/<name>.txt`, the form
  *           plans/rNN/ commits.
  *
  * Usage: runMain graft.Run <time|jobs|phases|plan> <name[,name]|all> [passes|outDir]
  * reading SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_SHUFFLE_PARTITIONS as Bench does.
  */
object Run {

  /** The data directory Bench and this harness read. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** SPARK_GRAFT_CPUS cores (default 4); SPARK_GRAFT_SHUFFLE_PARTITIONS
    * shuffle partitions (default 32 keeps the bench series comparable
    * across rounds; a cluster deployment sizes it from data volume or
    * leans on AQE's coalescing, which runs here too); UTC; UI off; AQE
    * on; events.parquet's TIMESTAMP(NANOS) read as long, converted back
    * in [[Tables.events]]. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `df`'s formatted physical plan: what `plan` writes and PLANS.md embeds. */
  def explain(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** One query's measurement: labelled values in print order. */
  final case class Line(mode: String, name: String, values: Seq[(String, Any)]) {
    def apply(key: String): Any = values.collectFirst { case (`key`, v) => v }.get
    override def toString: String = f"[$mode] $name%-36s " + values.map {
      case (k, d: Double) => f"$k=$d%.3f"
      case (k, v) => s"$k=$v"
    }.mkString(" ")
  }

  private val Modes = Seq("time", "jobs", "phases", "plan")

  /** Runs `mode` over `names` at `sfDir`, printing and returning one
    * [[Line]] per query. `arg` is the pass count (time, phases) or the
    * output directory (plan). */
  def run(spark: SparkSession, mode: String, names: Seq[String], sfDir: String,
      arg: Option[String] = None): Seq[Line] = {
    require(Modes.contains(mode), s"unknown mode: $mode (expected ${Modes.mkString("|")})")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    require(mode != "plan" || arg.nonEmpty, "plan needs an output directory")
    lazy val passes = arg.fold(3)(_.toInt)
    val counter =
      if (mode == "jobs") Some(new Bench.JobCounter(spark.sparkContext)) else None
    try names.map { name =>
      // one request: build, use, release
      def call[A](use: DataFrame => A): A =
        try use(SparkEntry.queries(name)(spark, sfDir)) finally Caches.releaseAll()
      def count(): Long = call(_.count())
      val values: Seq[(String, Any)] = mode match {
        case "time" =>
          val (min, runs, rows) = Timing.measure(count(), passes)
          Seq("min" -> min, "runs" -> runs.map(t => f"$t%.3f").mkString(","), "rows" -> rows)
        case "jobs" =>
          count()
          val ((t, _), c) = counter.get.counted(Timing.timed(count()))
          Seq("t" -> t, "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks)
        case "phases" =>
          count()
          val phases = (1 to passes).map { _ =>
            val t0 = System.nanoTime()
            call { df =>
              val t1 = System.nanoTime()
              df.queryExecution.executedPlan
              val t2 = System.nanoTime()
              df.count()
              Seq(t1 - t0, t2 - t1, System.nanoTime() - t2).map(_ / 1e9)
            }
          }
          val Seq(build, plan, exec) = phases.transpose.map(_.min)
          Seq("total" -> (build + plan + exec), "build" -> build, "plan" -> plan, "exec" -> exec)
        case "plan" =>
          count()
          val out = Paths.get(arg.get, s"$name.txt")
          Files.createDirectories(out.getParent)
          Files.writeString(out, call(explain))
          Seq("wrote" -> out)
      }
      val line = Line(mode, name, values)
      println(line)
      line
    } finally counter.foreach(c => spark.sparkContext.removeSparkListener(c.listener))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Run <time|jobs|phases|plan> <name[,name]|all> [passes|outDir]")
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val spark = session()
    try run(spark, args(0), names, sfDir, args.lift(2))
    finally spark.stop()
  }
}

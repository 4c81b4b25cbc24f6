package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Runs a set-up or maintenance step under a name; traced runs open a
  * span and a Spark job group for it. */
trait Tagger {
  def apply[A](name: String)(body: => A): A
}

object Tagger {
  val Untraced: Tagger = new Tagger { def apply[A](name: String)(body: => A): A = body }
}

/** Output checks: every check is an attempted operation, every
  * mismatch a failed one, with its message kept for the report. */
final class Checks {
  private val attemptedN = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]
  def apply(what: String, ok: Boolean, detail: => String): Unit = {
    attemptedN.incrementAndGet()
    if (!ok) failures.add(s"$what: $detail")
  }
  def attempted: Long = attemptedN.get
  def failed: Seq[String] = failures.asScala.toSeq
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the scheduler's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The traced run's recorder. Spans (request → build/exec, set-up
  * steps, layer probes) are kept in memory; a SparkListener records
  * every job with its `spark.jobGroup.id` and the task metrics of its
  * stages. [[finish]] drains the listener bus, joins jobs to spans by
  * group and writes one JSON line per span, each with its jobs. */
final class Tracer(sc: SparkContext) extends Tagger {
  import Tracer.Span

  private final class Job(val id: Int, val group: String, val sqlExec: String,
      val start: Double, val stages: Seq[Int]) {
    @volatile var end: Double = Double.NaN
  }

  private val spans = new ConcurrentLinkedQueue[Span]
  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageMetrics = new ConcurrentHashMap[Int, Map[String, Double]]
  private val ids = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, prop("spark.jobGroup.id"),
        prop("spark.sql.execution.id"), e.time.toDouble, e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      def d(f: org.apache.spark.executor.TaskMetrics => Long): Double =
        m.map(x => f(x).toDouble).getOrElse(0.0)
      val prev = Option(stageMetrics.get(i.stageId)).getOrElse(Map.empty)
      val cur = Map(
        "stages" -> 1.0,
        "tasks" -> i.numTasks.toDouble,
        "task_ms" -> d(_.executorRunTime),
        "task_cpu_ms" -> d(_.executorCpuTime) / 1e6,
        "gc_ms" -> d(_.jvmGCTime),
        "input_rows" -> d(_.inputMetrics.recordsRead),
        "input_bytes" -> d(_.inputMetrics.bytesRead),
        "shuffle_read_bytes" -> d(_.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_bytes" -> d(_.shuffleWriteMetrics.bytesWritten))
      stageMetrics.put(i.stageId,
        cur.map { case (k, v) => k -> (v + prev.getOrElse(k, 0.0)) })
    }
  }
  sc.addSparkListener(listener)

  private val current = new ThreadLocal[String]

  /** Run `body` as a span named `name`, under its own job group; the
    * span nests under the calling thread's open span, if any. */
  def span[A](name: String, attrs: => Map[String, Any] = Map.empty)(body: => A): A = {
    val id = s"s${ids.incrementAndGet()}"
    val parent = Option(current.get).getOrElse("")
    val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val prevDesc = Option(sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup(id, name, interruptOnCancel = false)
    current.set(id)
    val start = Clock.ms()
    try body
    finally {
      spans.add(Span(id, parent, name, start, Clock.ms(), attrs))
      if (parent.isEmpty) { current.remove(); sc.clearJobGroup() }
      else {
        current.set(parent)
        sc.setJobGroup(prevGroup.getOrElse(parent), prevDesc.getOrElse(""),
          interruptOnCancel = false)
      }
    }
  }

  def apply[A](name: String)(body: => A): A = span(name)(body)

  /** Stop recording jobs until [[resume]]: the untraced stretch of a
    * traced run, and the output checks after it, carry no listener. */
  def pause(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  def resume(): Unit = sc.addSparkListener(listener)

  /** The calling thread's open span id ("" outside any span). */
  def currentId: String = Option(current.get).getOrElse("")

  /** Stop listening, drain the bus, and write the trace: one line per
    * span with its own jobs. Returns the number of jobs no span owns. */
  def finish(path: String): Int = {
    pause()
    val all = spans.asScala.toSeq.sortBy(_.start)
    val byGroup = jobs.values.asScala.toSeq.groupBy(_.group)
    val owned = all.map(_.id).toSet
    val unattributed = jobs.values.asScala.count(j => !owned(j.group))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      val js = byGroup.getOrElse(s.id, Nil).sortBy(_.id).map { j =>
        val metrics = j.stages.filter(st => stageJob.get(st) == j.id)
          .flatMap(st => Option(stageMetrics.get(st)))
          .foldLeft(Map.empty[String, Double]) { (acc, m) =>
            m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
          }
        Map("job" -> j.id, "sql_execution" -> j.sqlExec, "start" -> j.start,
          "end" -> j.end, "metrics" -> metrics)
      }
      w.println(Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs, "jobs" -> js)))
    } finally w.close()
    unattributed
  }
}

object Tracer {
  final case class Span(id: String, parent: String, name: String,
      start: Double, end: Double, attrs: Map[String, Any])
}

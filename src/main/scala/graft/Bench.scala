package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusBridge

import BenchPolicy.QueryResult

/** Bench main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query gets one untimed warmup execution (triggers plan codegen
  * compilation + JVM JIT — measured ~10× inflation on first touch),
  * then TWO timed executions; the per-query number is the MIN of the
  * two and the reported total is the sum of per-query minima. That
  * shields the recorded number from one-off GC pauses and scheduler
  * noise, but note the methodology when comparing across rounds:
  * round-1 numbers were single-pass. Queries run in name order so
  * timings are comparable across rounds.
  *
  * Host-contention hygiene (two rounds of driver numbers were
  * contention artifacts): the 1-minute load average is captured before
  * and after into the JSON, and the suite reruns once (per-query
  * minima across both runs, `"reran":true`) when the run deviates from
  * the recorded bests — either the TOTAL >1.3× its best, or ANY query
  * >2× its own best. Totals across rounds compare different query
  * counts, so `bench_best.json` records a per-query best
  * (`{sfKey}/q/{name}` keys) alongside the total; queries still >2×
  * their best after the rerun are surfaced in `"deviations"` so a real
  * per-query regression cannot hide inside suite growth.
  *
  * This object only MEASURES (timers, probes, the Spark session, the
  * best-file IO). Every verdict the JSON carries — deviation gate,
  * local host-factor assignment, rerun merge, degraded flag, seed
  * rules, the JSON line itself — is a pure function in [[BenchPolicy]],
  * pinned by BenchPolicySpec (VERDICT r17 task 2).
  */
object Bench {

  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Multi-core canary (round 17): rounds 15 and 16 both lost hours to
    * phantom deviation sets from degraded-host windows that neither the
    * load average nor a single-thread probe could see (NEXT.md's
    * diagnosis: multi-core throughput/steal outside the guest's view).
    * This measures it directly: a fixed ALU kernel runs once on ONE
    * thread (t1) and then once per hardware thread concurrently (tn).
    * On a healthy idle host the per-thread work is constant so
    * tn ≈ t1; contention shows as tn/t1 rising while t1 stays flat —
    * the exact signature of the r16 degradation. The ratio (not tn
    * alone) is the signal, so the bound survives JIT/CPU-model
    * differences (calibration history at [[BenchPolicy.CanaryBound]]).
    * Runs before AND after the suite; a run is `degraded` when either
    * ratio exceeds the bound, and a degraded run never SEEDS a new
    * best — total series or first-seen per-query (existing per-query
    * bests are minima, which inflated times cannot poison, so those
    * still ratchet).
    */
  private def canaryKernel(seed: Long, iters: Long): Long = {
    var h = seed; var i = 0L
    while (i < iters) {
      h = h * 6364136223846793005L + 1442695040888963407L
      h ^= h >>> 17
      i += 1
    }
    h
  }

  /** Min-ratio trial of 3 (a one-off GC pause or timer tick must not
    * flag a healthy run; sustained steal inflates every trial).
    * Returns (t1 seconds, tn seconds, ratio) of the best trial. */
  private def canary(): (Double, Double, Double) =
    (1 to 3).map(_ => canaryOnce()).minBy(_._3)

  /** (t1 seconds, tn seconds, ratio). */
  private def canaryOnce(): (Double, Double, Double) = {
    val threads = Runtime.getRuntime.availableProcessors()
    val work = 300000000L // ~0.3 s single-thread on this class of host
    var sink = canaryKernel(1, work / 4) // JIT warmup, untimed
    val s1 = System.nanoTime()
    sink ^= canaryKernel(2, work)
    val t1 = (System.nanoTime() - s1) / 1e9
    val acc = new java.util.concurrent.atomic.AtomicLong(sink)
    val ts = (0 until threads).map { i =>
      new Thread(() => { acc.addAndGet(canaryKernel(i + 3L, work)); () })
    }
    val sn = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    val tn = (System.nanoTime() - sn) / 1e9
    if (acc.get == 42L) println("") // blackhole — never true in practice
    (t1, tn, tn / t1)
  }

  /** Page-fault-path probe (round 17, second canary leg). The round-17
    * degraded window was caught IN THE ACT and root-caused: per-query
    * times inflated 2× while the ALU canary read a clean 1.03–1.20 —
    * CPU and steady-state DRAM were fine (an in-place copy measured
    * 18 GB/s) but FIRST-TOUCH of freshly-mapped memory measured
    * 0.01–0.3 GB/s vs the healthy multi-GB/s, i.e. the guest/host
    * page-fault/zeroing path was degraded. Spark exercises exactly
    * that path continuously (heap growth, shuffle/scan buffers, page
    * cache), which is why queries inflate while ALU work doesn't.
    * `allocateDirect` mmaps + zeroes fresh anonymous memory, so its
    * timing is dominated by the fault path; one byte per 4 KiB page
    * re-touches to keep the probe honest if the allocation ever stops
    * zeroing eagerly. Returns GB/s; max-of-3 (healthy-biased, the
    * mirror of the ratio's min-of-3 — a one-off stall must not flag a
    * healthy run, sustained degradation keeps every trial low).
    * Floor calibration history at [[BenchPolicy.FaultFloor]]. */
  private def faultProbeOnce(): Double = {
    val bytes = 256 << 20
    try {
      val t0 = System.nanoTime()
      val buf = java.nio.ByteBuffer.allocateDirect(bytes)
      var p = 0
      while (p < bytes) { buf.put(p, 1.toByte); p += 4096 }
      val dt = (System.nanoTime() - t0) / 1e9
      bytes / dt / 1e9
    } catch {
      // direct-memory exhaustion is a probe failure, not host
      // degradation — report unknown rather than a false flag
      case _: OutOfMemoryError => -1.0
    } finally System.gc() // release the 256 MB before the next trial
  }

  private def faultProbe(): Double = {
    val vals = (1 to 3).map(_ => faultProbeOnce()).filter(_ > 0)
    if (vals.isEmpty) -1.0 else vals.max
  }

  /** Third canary leg (round 17): a fixed SYNTHETIC Spark job — pure
    * compute (range → mod-key hash agg), no data files, and never
    * touched by engine changes — timed min-of-2 after one warmup and
    * ratcheted in bench_best.json like any query. Its inflation over
    * its own best is a direct measurement of the host factor on
    * Spark-SHAPED work (JVM alloc + shuffle + codegen), the quantity
    * the ALU and fault legs only approximate: suite deviations that
    * co-move with this ratio are the host's; deviations while this
    * reads ~1× are a real regression. Keyed by the cpu count (its
    * cost scales with local[n]). The leg only ADJUDICATES once a
    * recorded best exists — see [[BenchPolicy.CanaryVerdict]].
    *
    * Warmup depth (round 18): TWO untimed runs + min-of-3. One warmup
    * + min-of-2 left the fresh-JVM BEFORE reading measuring JIT, not
    * the host — r17's round-end run read spark_before 0.615 (1.83× of
    * best) and r18's 0.71 (2.11×) while host-probe trials in the same
    * windows settled to 0.39–0.54 by the fourth execution; an
    * endpoint leg that flags JVM warmth is a false degraded verdict
    * on every cold start. Post-suite calls pay ~nothing (JVM warm,
    * min unchanged). */
  private def sparkCanary(spark: SparkSession): Double = {
    HostCanary.sparkJobOnce(spark) // warmup (codegen compile), untimed
    HostCanary.sparkJobOnce(spark) // second warmup (JIT settle), untimed
    (1 to 3).map(_ => HostCanary.sparkJobTimed(spark)).min
  }

  private def sparkCanaryOnce(spark: SparkSession): Double =
    HostCanary.sparkJobTimed(spark)

  /** Per-query results plus the interleaved canary samples. The
    * suite-INTERLEAVED samples exist because round-17 windows proved
    * endpoint sampling blind: one run's before/after canaries read
    * clean while nine mid-run queries inflated 2–2.8× — the
    * degradation came and went INSIDE the suite. Sampling every
    * [[BenchPolicy.CanarySampleEvery]] queries costs ~12 s per full
    * pass and gives every query a local host-factor reading
    * ([[BenchPolicy.localCanaryOf]] — the slower of the two samples
    * ENCLOSING its block), so each deviation carries its own
    * adjudication. */
  /** Suite-wide Spark-job counter (round 19, VERDICT r18 #6): one
    * listener registered in main; [[runSuite]] counts the jobs of each
    * query's SECOND timed pass (fully warm — memo builds landed in the
    * warmup) so the JSON carries the per-query job count, the
    * deterministic structure evidence the scaling block lacks at an SF
    * where wall-clock ratios measure scheduling. Listener events post
    * asynchronously, so [[counted]] drains the listener bus before the
    * reset and before the read: every earlier job's event is delivered
    * before the reset, and every job of `body` before the read — exact
    * attribution with no settle sleeps. The drains sit OUTSIDE the
    * timed region and never touch the reported seconds. The same
    * listener counts completed stages and ended tasks for
    * [[Run]]'s `jobs` mode. */
  private[graft] final class JobCounter(sc: org.apache.spark.SparkContext) {
    import org.apache.spark.scheduler._
    private val jobs, stages, tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener: SparkListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)

    /** `body`'s result and the number of Spark jobs it started. */
    def apply[A](body: => A): (A, Int) = {
      val (a, c) = counted(body)
      (a, c.jobs)
    }

    /** `body`'s result and the jobs it started, stages it completed
      * and tasks it ended. */
    def counted[A](body: => A): (A, JobCounts) = {
      ListenerBusBridge.drain(sc)
      Seq(jobs, stages, tasks).foreach(_.set(0))
      val a = body
      ListenerBusBridge.drain(sc)
      (a, JobCounts(jobs.get, stages.get, tasks.get))
    }
  }

  private[graft] final case class JobCounts(jobs: Int, stages: Int, tasks: Int)

  private def runSuite(spark: SparkSession, sfDir: String,
      warm: Boolean, countJobs: Option[JobCounter] = None)
      : (Seq[QueryResult], Seq[Double], Map[String, Int]) = {
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val jobsOf = scala.collection.mutable.Map.empty[String, Int]
    // (name, seconds, ok): a throwing pass measures time-to-failure,
    // not query cost — it must never become the per-query number that
    // updates the recorded best (a ~10 ms analysis failure would
    // otherwise poison the deviation gate into a permanent phantom
    // regression once the query is fixed). The min is taken over the
    // SUCCESSFUL passes; a query with no successful pass reports its
    // time-to-failure with ok=false and never updates a best.
    val timed = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((name, fn), i) =>
        if (i % BenchPolicy.CanarySampleEvery == 0)
          samples += sparkCanaryOnce(spark)
        if (warm) {
          try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
          Caches.releaseAll()
        }
        // two timed passes, report the min — shields the recorded
        // number from one-off GC pauses / scheduler noise
        def pass(): (Double, Boolean) = {
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case _: Throwable => false }
          val dt = (System.nanoTime() - t0) / 1e9
          Caches.releaseAll() // per-request cache arena
          (dt, ok)
        }
        val passes = Seq(pass(), countJobs match {
          case Some(counter) =>
            val (p, jobs) = counter(pass())
            jobsOf(name) = jobs
            p
          case None => pass()
        })
        val good = passes.filter(_._2).map(_._1)
        if (good.nonEmpty) (name, good.min, true)
        else (name, passes.map(_._1).min, false)
      }
    samples += sparkCanaryOnce(spark)
    val sampleArr = samples.toIndexedSeq
    val withLocal = timed.zipWithIndex.map { case ((name, t, ok), i) =>
      QueryResult(name, t, ok, BenchPolicy.localCanaryOf(sampleArr, i))
    }
    (withLocal, samples.toSeq, jobsOf.toMap)
  }

  def main(args: Array[String]): Unit = {
    // standalone host-health probe (calibration + quick degraded-window
    // checks without paying a suite run): prints 5 canary trials
    if (args.contains("canary-only")) {
      (1 to 5).foreach { i =>
        val (t1, tn, r) = canaryOnce()
        val f = faultProbeOnce()
        println(f"[canary] trial $i t1=$t1%.3fs tn=$tn%.3fs ratio=$r%.2f fault=$f%.2fGB/s load=${loadAvg()}%.2f")
      }
      return
    }
    // host-probe: the spark-canary leg standalone (needs a session,
    // ~1 min) — compare the printed seconds against bench_best.json's
    // spark_canary_c{cpus} to find a clean window before a re-best run
    if (args.contains("host-probe")) {
      val s = Run.session()
      sparkCanary(s) // warmup + 2 (discarded — JIT/codegen settle)
      (1 to 5).foreach { i =>
        val t = sparkCanaryOnce(s)
        println(f"[host-probe] trial $i spark=$t%.3fs load=${loadAvg()}%.2f")
      }
      s.stop()
      return
    }
    val sfDir = Run.sfDir
    val spark = Run.session()
    val cpus = spark.sparkContext.defaultParallelism
    val jobCounter = new JobCounter(spark.sparkContext)

    val loadBefore = loadAvg()
    val (c1Before, cnBefore, crBefore) = canary()
    val faultBefore = faultProbe()
    val scBefore = sparkCanary(spark)
    var (results, samples1, jobs1) =
      runSuite(spark, sfDir, warm = true, countJobs = Some(jobCounter))
    var allSamples = samples1
    def total0 = results.map(_.sec).sum
    var total = total0

    // recorded bests for this sf dir: flat JSON of `{sfKey}/n{count}` →
    // best total plus `{sfKey}/q/{name}` → best per-query time. The
    // TOTAL best is keyed by the query COUNT it measured — totals from
    // different suite sizes are incomparable (a grown suite could never
    // beat a smaller suite's total, freezing the gate), so a new query
    // starts a fresh total series while the per-query bests carry over.
    val bestPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BEST", "bench_best.json"))
    val sfKey = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    def qKey(name: String) = s"$sfKey/q/$name"
    val totalKey = s"$sfKey/n${SparkEntry.queries.size}"
    val recorded: Map[String, Double] = HostCanary.readBests(bestPath)
    val prevBest = recorded.get(totalKey)

    def perQueryDeviations(rs: Seq[QueryResult]): Seq[(String, Double)] =
      BenchPolicy.deviations(rs, n => recorded.get(qKey(n)))

    var reran = false
    if (prevBest.exists(b => total > 1.3 * b) ||
        perQueryDeviations(results).nonEmpty) {
      // likely host contention — rerun once, keep per-query minima
      // (minima over SUCCESSFUL passes only; ok = succeeded in either
      // run). The local canary travels with whichever pass supplied
      // the kept time, so a deviation's host factor describes the
      // window its REPORTED number was actually measured in.
      val (secondSeq, samples2, _) = runSuite(spark, sfDir, warm = false)
      allSamples = allSamples ++ samples2
      val second = secondSeq.map(r => r.name -> r).toMap
      results = results.map(r => BenchPolicy.mergeRerun(r, second.get(r.name)))
      total = total0
      reran = true
    }
    // deviations that SURVIVE the rerun are candidate regressions
    val deviations = perQueryDeviations(results)
    val failed = results.collect { case r if !r.ok => r.name }

    // post-suite canary: degradation can begin mid-run (the r16 n192
    // seed was born exactly that way), so either window flags the run
    val (c1After, cnAfter, crAfter) = canary()
    val faultAfter = faultProbe()
    val scAfter = sparkCanary(spark)
    val scKey = s"spark_canary_c$cpus"
    val verdict = BenchPolicy.CanaryVerdict(
      ratioBefore = crBefore, ratioAfter = crAfter,
      faultBefore = faultBefore, faultAfter = faultAfter,
      sparkReadings = Seq(scBefore, scAfter) ++ allSamples,
      sparkRecorded = recorded.get(scKey))
    // each surviving deviation stamped with the host factor of the
    // window its kept time was measured in — a factor well above 1 is
    // the host's window, a factor ≈1 is a real regression (read
    // against "spark_calibrated"). This is the per-deviation
    // adjudication rounds 15–17 did by hand.
    val localOf = results.map(r => r.name -> r.localCanary).toMap
    val deviationHostFactors =
      deviations.map { case (name, _) => name -> verdict.sparkRatio(localOf(name)) }
    val degraded = verdict.degraded

    val seedTotal = BenchPolicy.seedTotal(failed.nonEmpty, prevBest, degraded)
    try {
      val updated = recorded ++
        (results.collect {
          case r if BenchPolicy.seedQuery(
              recorded.contains(qKey(r.name)), r.ok, degraded) =>
            qKey(r.name) -> math.min(r.sec, recorded.getOrElse(qKey(r.name), r.sec))
        } ++ (if (verdict.seedSparkBest) Seq(scKey -> verdict.sparkBest) else Nil) ++
          (if (seedTotal) Seq(totalKey -> BenchPolicy.newBestTotal(total, prevBest)) else Nil))
      java.nio.file.Files.writeString(bestPath,
        updated.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    } catch { case _: Exception => () } // best-file is advisory only

    val loadAfter = loadAvg()
    val summary = BenchPolicy.RunSummary(
      total = total, sfDir = sfDir,
      loadBefore = loadBefore, loadAfter = loadAfter, reran = reran,
      results = results, deviations = deviations,
      deviationHostFactors = deviationHostFactors, failed = failed,
      t1Before = c1Before, tnBefore = cnBefore,
      t1After = c1After, tnAfter = cnAfter,
      verdict = verdict,
      sparkBefore = scBefore, sparkAfter = scAfter,
      samplesMax = allSamples.max,
      totalSeeded = seedTotal,
      bestTotal = BenchPolicy.reportedBestTotal(seedTotal, total, prevBest),
      jobs = jobs1.toSeq.sortBy(_._1))
    val json = BenchPolicy.renderJson(summary)
    // un-truncatable output (round 19, VERDICT r18 #4): the full line
    // ALSO lands in bench_last.json (a captured-tail cut of stdout
    // cost round 17 its whole round-over-round table), and a short
    // summary line precedes it so a head capture stays parseable; the
    // full line stays LAST — a tail capture keeps the end.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_LAST", "bench_last.json")), json)
    catch { case _: Exception => () } // advisory copy only
    // the summary line is PREFIXED so no line-anchored parser (e.g.
    // grep '^\[info\] \{') can ever pick the queries-less summary over
    // the full record — the full JSON stays the only line-leading
    // brace line, and stays LAST
    println("[bench-summary] " + BenchPolicy.renderSummaryJson(summary))
    println(json)
    spark.stop()
  }
}

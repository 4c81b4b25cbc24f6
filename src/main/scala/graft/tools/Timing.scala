package graft.tools

/** Shared timing core for [[graft.Run]]'s `time` mode and the stress
  * tools (ScaleStress, StressDetect): methodology changes happen here
  * once.
  */
object Timing {
  /** Returns (min seconds, all run seconds, first run's row count).
    * One warm pass, then `passes` timed runs (three by default), min —
    * the profiler contract. */
  def measure(f: => Long, passes: Int = 3): (Double, Seq[Double], Long) = {
    f // warm: plan codegen + JIT
    val runs = (1 to passes).map(_ => timed(f))
    (runs.map(_._1).min, runs.map(_._1), runs.head._2)
  }

  /** One raw timing, no warmup — the stress tools' BUILD rows (a
    * build amortizes once per refresh; warming it would double-pay
    * the write). Returns (seconds, result). */
  def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Median-of-3 timing of an action returning a row count — the
    * stress tools' REQUEST rows (median resists one-off stalls
    * without the min's optimism). */
  def med3(f: => Long): (Double, Long) = {
    val runs = (1 to 3).map(_ => timed(f))
    (runs.map(_._1).sorted.apply(1), runs.head._2)
  }
}

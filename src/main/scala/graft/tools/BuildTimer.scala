package graft.tools

import scala.jdk.CollectionConverters._

/** Wall-clock accumulator for the one-time memoized artifact builds (the
  * d03 pair/components frame, the IVF/MIPS/MinHash indexes). The builds run
  * during the bench's untimed warm-up pass — deliberately, since a
  * long-lived cluster builds each index once and probes it many times — but
  * excluding them SILENTLY would let a methodology change read as an engine
  * win, so [[graft.Bench]] reports the accumulated total as the
  * `warmup_build` key beside the per-query medians, and (since round 11)
  * the PER-ARTIFACT breakdown as `warmup_artifacts` in BENCH_FULL.json —
  * the warm-up bucket doubled between rounds 9 and 10, and a single
  * undifferentiated number is exactly where slow build code would hide.
  * BenchFormatSpec holds the committed total under
  * [[graft.Bench.WarmupBudgetSeconds]].
  *
  * Eagerness caveat: a build times only its EAGER work (KMeans fit,
  * checkpoint materialization, collect-based scalars); a build's
  * lazily-cached frames fill on their first downstream action, which
  * lands inside the warm-up run of the first probing query and is
  * excluded from the timed medians either way.
  *
  * Spans are EXCLUSIVE: a span opened inside another on the same thread
  * (a build that reads another artifact, built on first use) is charged
  * to its own label and subtracted from its parent's, so the total counts
  * every nanosecond once.
  */
object BuildTimer {
  private val acc = new java.util.concurrent.atomic.AtomicLong(0L)
  private val byLabel =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  /** Nanoseconds spent in spans nested inside the innermost open span of
    * this thread. */
  private val nested = ThreadLocal.withInitial[Array[Long]](() => Array(0L))

  /** Time one artifact build under `label`. An artifact built more than
    * once in a JVM (distinct cache keys for the same family — e.g. the
    * flat IVF index per (dir, nCells)) accumulates under one label: the
    * breakdown answers "which FAMILY is the warm-up spending on", not
    * "which key". */
  def time[T](label: String)(f: => T): T = {
    val cell = nested.get()
    val outer = cell(0)
    cell(0) = 0L
    val t0 = System.nanoTime()
    try f finally {
      val dt = System.nanoTime() - t0
      val self = dt - cell(0)
      cell(0) = outer + dt
      acc.addAndGet(self)
      byLabel.computeIfAbsent(label,
        _ => new java.util.concurrent.atomic.AtomicLong(0L)).addAndGet(self)
      ()
    }
  }

  def totalSeconds: Double = acc.get() / 1e9

  /** Per-label seconds, descending — the `warmup_artifacts` payload. */
  def perArtifactSeconds: Seq[(String, Double)] =
    byLabel.asScala.toSeq.map { case (k, v) => (k, v.get() / 1e9) }
      .sortBy(-_._2)

  def reset(): Unit = { acc.set(0L); byLabel.clear() }
}

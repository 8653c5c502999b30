package perfbench

/** Order statistics and interval arithmetic shared by the workloads
  * and the tracer. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`%
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size, math.max(1, rank(p, s.size))) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples; the
    * epsilon keeps 99.9% of 10000 at rank 9990 despite binary floats. */
  def rank(p: Double, n: Int): Int = math.ceil(p * n / 100.0 - 1e-9).toInt

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of p99.9, p99, p95, p90 and p75 that leaves at least
    * ten of `n` samples strictly above its nearest rank, so a tail
    * figure always rests on ten observations (200 samples → p95, 100 →
    * p90, 40 → p75); none below 40 samples. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99, 95, 90, 75).find(p => n - rank(p, n) >= 10)

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of an interval: its length minus the part its children
    * cover (children clipped to the parent; overlaps counted once). */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
    (pe - ps) - unionLength(clipped)
  }
}

/** Wall seconds of an interval and the host's steal share over it
  * (see [[StealMeter]]). */
final case class Timed(wall: Double, steal: Double) {
  /** Wall time net of the CPU time stolen meanwhile. */
  def net: Double = wall * (1 - steal)
}

object Timed {
  def of[T](body: => T): (T, Timed) = {
    val steal = new StealMeter
    val t0 = System.nanoTime()
    val r = body
    (r, Timed((System.nanoTime() - t0) / 1e9, steal.share()))
  }
}

/** Share of the CPU time this machine's processors wanted that the
  * hypervisor gave to other guests over an interval: stolen ÷ (busy +
  * stolen), from the kernel's `/proc/stat` counters. On a shared VM a
  * busy neighbour stretches every wall time by 1 / (1 − share), for
  * minutes at a time, so the harness reports timings net of it and runs
  * under different host load stay comparable. Without the counters
  * (not Linux) the share is 0 and timings are plain wall time. */
final class StealMeter {
  private val (steal0, demand0) = StealMeter.sample()
  def share(): Double = {
    val (steal1, demand1) = StealMeter.sample()
    val demand = demand1 - demand0
    if (demand > 0) (steal1 - steal0).toDouble / demand else 0.0
  }
}

object StealMeter {
  private val stat = java.nio.file.Paths.get("/proc/stat")

  /** (stolen, busy + stolen) jiffies summed over all processors. */
  def sample(): (Long, Long) =
    if (!java.nio.file.Files.isReadable(stat)) (0L, 0L)
    else {
      // cpu user nice system idle iowait irq softirq steal ...
      val f = java.nio.file.Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      val steal = if (f.length > 7) f(7) else 0L
      (steal, f(0) + f(1) + f(2) + f(5) + f(6) + steal)
    }
}

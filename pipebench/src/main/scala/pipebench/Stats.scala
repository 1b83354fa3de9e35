package pipebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated percentile of `xs` at `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Geometric mean of positive `xs`: every sample counts by its ratio,
    * so a mix of 0.2 s and 8 s ops is not ruled by the long ones. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest percentile with at least ten samples beyond it: p90 from
    * 100 samples up, never below the median. */
  def tailP(n: Int): Double = math.min(0.9, math.max(0.5, 1.0 - 10.0 / n))

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body`, logging its wall time to stderr under `what`. */
  def logged[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[pipebench] $what: ${secondsSince(t0)}%.3f s")
  }
}

/** Box stamps recorded with every result, so numbers from boxes of
  * different size or load are never compared unknowingly. */
object Box {
  def loadavg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal, total) CPU ticks of the whole box from `/proc/stat`: the
    * share of time the hypervisor ran other guests on our cores. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  def stealFrac(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 <= from._2) 0.0 else (to._1 - from._1).toDouble / (to._2 - from._2)

  /** Driver high-water resident set size in MB (`VmHWM`). */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  /** The fixed 20M-row query `graft.Bench` stamps as its calibration. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L).selectExpr("sum(id % 7)", "count(1)").collect()
    Stats.secondsSince(t0)
  }
}

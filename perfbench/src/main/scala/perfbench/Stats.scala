package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Summary statistics used by every workload. */
object Stats {
  /** Samples that must lie beyond a reported tail percentile. */
  val TailBeyond = 10

  /** The tail rule: the highest percentile that still has at least
    * [[TailBeyond]] samples beyond it, capped at `cap`. With n samples that
    * is (n - 10) / n; below 20 samples it falls back to the median. */
  def tailQuantile(n: Int, cap: Double = 0.99): Double =
    if (n <= 2 * TailBeyond) 0.5 else math.min(cap, (n - TailBeyond).toDouble / n)

  /** Nearest-rank quantile (the sample at rank ceil(q * n)). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s    = xs.sorted
    val rank = math.ceil(q * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The median, as the midpoint of the two middle values for an even
    * count. Over a few values, one per query, nearest rank would report
    * whichever of the two middle queries ran slower in that run. */
  def midMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail value under the rule, with the percentile it stands for. */
  def tail(xs: Seq[Double], cap: Double = 0.99): (Double, Double) = {
    val q = tailQuantile(xs.size, cap)
    (quantile(xs, q), q)
  }

  /** Median, tail and count as a detail record. */
  def summary(xs: Seq[Double], cap: Double = 0.99): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else {
      val (t, q) = tail(xs, cap)
      Map("n" -> xs.size, "p50" -> median(xs), "tail" -> t, "tail_q" -> q, "max" -> xs.max)
    }
}

/** JSON for the result line and the detail files: Jackson, with its Scala
  * module for maps, sequences and options. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}

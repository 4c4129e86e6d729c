package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode

/** Samples and percentiles of the records. */
object Out {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, or
    * the maximum (level 100) when there are fewer than 20 samples. */
  def tail(xs: Seq[Double]): (Int, Double) =
    if (xs.size >= 20) {
      val level = math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt
      (level, quantile(xs, level / 100.0))
    } else (100, if (xs.isEmpty) Double.NaN else xs.max)

  /** `o.k = d`, or null when `d` is not a finite number. */
  def num(o: ObjectNode, k: String, d: Double): ObjectNode =
    if (d.isNaN || d.isInfinite) o.putNull(k) else o.put(k, d)

  /** {"p50": .., "tail": .., "tail_level": .., "n": .., "unit": ..} */
  def summary(o: ObjectNode, xs: Seq[Double], unit: String): ObjectNode = {
    val (level, t) = tail(xs)
    num(o, "p50", median(xs))
    num(o, "tail", t)
    o.put("tail_level", level).put("n", xs.size).put("unit", unit)
  }
}

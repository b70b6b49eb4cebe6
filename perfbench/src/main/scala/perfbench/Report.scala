package perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile (`q` in [0, 1]); NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Everything one benchmark process measured. Metrics are printed as
  * unprefixed `metric <name> <value> <unit> n=<samples>` lines as they are
  * recorded; [[json]] is the file the runner reads. */
final class Report(val workload: String) {
  final case class M(value: Double, unit: String, n: Int)
  val e2e = mutable.LinkedHashMap.empty[String, M]
  val detail = mutable.LinkedHashMap.empty[String, M]
  val layers = mutable.LinkedHashMap.empty[String, M]
  var attempted = 0L
  var failed = 0L
  val failures = new mutable.ArrayBuffer[String]

  private def put(into: mutable.LinkedHashMap[String, M], kind: String,
      name: String, value: Double, unit: String, n: Int): Unit = {
    into(name) = M(value, unit, n)
    println(f"$kind $name $value%.6f $unit n=$n")
  }
  def endToEnd(name: String, value: Double, unit: String, n: Int): Unit =
    put(e2e, "metric", name, value, unit, n)
  def workloadMetric(name: String, value: Double, unit: String, n: Int): Unit =
    put(detail, "metric", name, value, unit, n)
  def layer(name: String, value: Double, unit: String, n: Int): Unit =
    put(layers, "layer", name, value, unit, n)

  def attempt(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }

  private def q(s: String): String = graft.streaming.Clip.render(s)
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(m: mutable.LinkedHashMap[String, M]): String =
    m.map { case (k, v) =>
      s"${q(k)}:{\"value\":${num(v.value)},\"unit\":${q(v.unit)},\"n\":${v.n}}"
    }.mkString("{", ",", "}")

  def json: String =
    s"""{"workload":${q(workload)},"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(q).mkString("[", ",", "]")},""" +
      s""""e2e":${obj(e2e)},"detail":${obj(detail)},"layers":${obj(layers)}}"""
}

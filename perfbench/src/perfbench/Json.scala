package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON output over Jackson. Objects are `Map`s (use `ListMap`
  * to keep key order) and arrays are `Seq`s. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "metric values must be finite")
      java.lang.Double.valueOf(d)
    case x: Int => java.lang.Integer.valueOf(x)
    case x: Long => java.lang.Long.valueOf(x)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case o => o.toString
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def writeFile(f: java.io.File, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, toJava(v))
}

object Stats {
  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

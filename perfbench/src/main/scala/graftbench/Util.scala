package graftbench

import scala.collection.mutable

/** Minimal JSON rendering for the run record (no JSON library is needed
  * on the harness classpath beyond what the program already ships).
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => str(other.toString)
  }
}

/** Order statistics with linear interpolation between closest ranks
  * (the same rule as numpy's default percentile).
  */
object Stats {
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Deterministic input generation from the run seed. */
final class Rng(seed: Long) {
  private val r = new java.util.Random(seed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L)
  def int(n: Int): Int = r.nextInt(n)
  def double(): Double = r.nextDouble()
  def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))

  /** `n` draws of indices 0 until `size` with Zipf(s) weights: index 0 is
    * the most popular.
    */
  def zipf(size: Int, s: Double, n: Int): IndexedSeq[Int] = {
    val w = (1 to size).map(i => 1.0 / math.pow(i.toDouble, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    (0 until n).map { _ =>
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, size - 1)
    }
  }
}

/** What one run measured, written out as the run record when it ends. */
final class RunRecord(val workload: String, val seed: Long, val traced: Boolean) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** (operation kind, start offset s from the timed phase start, latency ms) */
  val samples = mutable.ArrayBuffer.empty[(String, Double, Double)]
  /** (gate name, passed, detail) */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    ok
  }

  def correct: Boolean = checks.forall(_._2) && failed == 0

  def json(extra: Map[String, Any]): String = Json.render(mutable.LinkedHashMap[String, Any](
    "workload" -> workload, "seed" -> seed, "trace" -> traced,
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
    "samples" -> samples.map { case (k, off, ms) => Seq(k, off, ms) },
    "info" -> info) ++ extra)
}

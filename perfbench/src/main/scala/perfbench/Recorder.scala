package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed facade call: wall-clock window (ms), duration (ns precision,
  * in ms) and the items it moved (rows appended, versions returned, ...). */
final case class Call(op: String, startMs: Long, endMs: Long, ms: Double,
                      items: Long)

/** Times the benchmark's calls into the program and counts failures. A call
  * fails when it throws or when its answer fails its check; either way the
  * run is not correct. With a [[Tracer]], every job a call submits carries
  * the call's op name. */
final class Recorder(spark: SparkSession, traced: Boolean) {
  val calls = ArrayBuffer[Call]()
  val failures = ArrayBuffer[String]()
  var attempted = 0L
  private var warming = false

  /** Run `body` with its calls checked but neither kept nor traced. */
  def warmup(body: => Unit): Unit = {
    warming = true
    try body finally warming = false
  }

  def failed: Long = failures.size.toLong

  /** Run `body` as op `op`; `check` returns the items the call moved, or
    * the reason its answer is wrong. */
  def call[T](op: String)(body: => T)(check: T => Either[String, Long])
      : Unit = {
    attempted += 1
    val sc = spark.sparkContext
    val tag = traced && !warming
    if (tag) sc.setLocalProperty(Tracer.OpKey, op)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch { case NonFatal(e) => Left(s"$op threw $e") }
      finally if (tag) sc.setLocalProperty(Tracer.OpKey, null)
    val ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    val label = if (warming) s"$op (warm-up)" else op
    System.err.println(f"[perfbench] $label: $ms%.1f ms")
    result.flatMap(check) match {
      case Right(n) => if (!warming) calls += Call(op, w0, w1, ms, n)
      case Left(why) => failures += why
    }
  }

  /** A check that is not tied to one timed call. */
  def verify(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    try check.foreach(failures += s"$what: " + _)
    catch { case NonFatal(e) => failures += s"$what threw $e" }
  }

  def of(ops: String*): Seq[Call] = calls.filter(c => ops.contains(c.op)).toSeq
}

object Stats {
  /** Linear-interpolated percentile (0..100) of `xs`; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Highest of p90/p99 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(99.0 -> "p99", 90.0 -> "p90").collectFirst {
      case (p, name) if xs.size * (100 - p) / 100 >= 10 => name -> pct(xs, p)
    }
}

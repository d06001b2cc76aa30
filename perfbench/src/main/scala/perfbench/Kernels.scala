package perfbench

import graft.functions.VectorFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions._

/** Micro-calls of the program's public codegen kernels over the workload's
  * own vectors and texts, with no Spark job around them: each kernel's
  * column is compiled into the projection Spark's generated code runs, and
  * applied on the driver, one thread, to [[Rows]] input rows in Spark's
  * binary row format: few enough to stay in the CPU caches, so the time is
  * the kernel's and not memory latency. A baseline projection reads the
  * same columns without the kernel (their sizes). One pass is as many
  * sweeps over the rows as make the kernel's pass last about [[PassSecs]]
  * once the JIT has compiled it (single sweeps of each, alternating, for
  * [[WarmupSecs]] first). Of [[Passes]] passes of each, alternating, the
  * fastest is taken: other threads of the JVM and of the machine only ever
  * add time. Rows per second is rows swept over the kernel's fastest pass
  * minus the baseline's. A kernel with no input on this workload
  * reports 0. */
object Kernels {
  val Rows = 2000
  val PassSecs = 0.02
  val WarmupSecs = 0.3
  val Passes = 21

  private def cycle[T](xs: Seq[T]): Seq[T] =
    Iterator.continually(xs).flatten.take(Rows).toSeq

  /** `c` over `df` (a local frame), compiled; with `df`'s rows as binary
    * rows. */
  private def compiled(df: DataFrame, c: Column)
      : (UnsafeProjection, Array[InternalRow]) =
    CollapseProject(ReplaceExpressions(
      df.select(c.as("out")).queryExecution.analyzed)) match {
      case Project(list, rel: LocalRelation) =>
        val toBinary = UnsafeProjection.create(rel.output, rel.output)
        (UnsafeProjection.create(list, rel.output),
          rel.data.map(r => toBinary(r).copy()).toArray)
      case p => throw new IllegalStateException(s"unexpected plan:\n$p")
    }

  private def passSeconds(p: UnsafeProjection, rows: Array[InternalRow],
                          sweeps: Int): Double = {
    val t0 = System.nanoTime()
    var s = 0
    while (s < sweeps) {
      var i = 0
      while (i < rows.length) { p(rows(i)); i += 1 }
      s += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def rate(name: String, df: DataFrame, kernel: Column,
                   baseline: Column): Double = {
    val (k, rows) = compiled(df, kernel)
    val (b, _) = compiled(df, baseline)
    val warm = System.nanoTime() + (WarmupSecs * 1e9).toLong
    while (System.nanoTime() < warm) {
      passSeconds(k, rows, 1); passSeconds(b, rows, 1) }
    val sweeps = math.max(1, math.min(10000,
      math.ceil(PassSecs / passSeconds(k, rows, 1)).toInt))
    val pairs = (1 to Passes).map(_ =>
      (passSeconds(k, rows, sweeps), passSeconds(b, rows, sweeps)))
    val (kMin, bMin) = (pairs.map(_._1).min, pairs.map(_._2).min)
    val secs = kMin - bMin
    Workload.log(f"kernel $name: ${kMin * 1e3}%.2f ms, baseline" +
      f" ${bMin * 1e3}%.2f ms per pass of $sweeps sweeps")
    if (secs <= 0) throw new IllegalStateException(
      s"kernel $name is not slower than its baseline")
    rows.length.toDouble * sweeps / secs
  }

  private def sizes(cs: String*): Column = cs.map(c => size(col(c))).reduce(_ + _)

  def measure(spark: SparkSession, vectors: Seq[(Array[Float], Array[Float])],
              texts: Seq[String]): Map[String, Double] = {
    import spark.implicits._
    val vec =
      if (vectors.isEmpty) Map.empty[String, Double]
      else {
        val df = cycle(vectors).map { case (a, b) =>
          val adds = b.indices.filter(i => math.abs(b(i) - a(i)) >= 0.01)
            .map(i => i -> (b(i) - a(i)).toDouble).toMap
          (a, b, adds)
        }.toDF("a", "b", "adds")
        Map(
          "SparseDiffExpr" -> rate("SparseDiffExpr", df,
            sparseDiffNative(col("b"), col("a"), 0.01)("n_changed"),
            sizes("b", "a")),
          "ApplyMapDeltaExpr" -> rate("ApplyMapDeltaExpr", df,
            element_at(applyMapDeltaNative(col("a"), col("adds")), 1),
            sizes("a", "adds")),
          "DotProduct" -> rate("DotProduct", df,
            dotNative(col("a"), col("b")), sizes("a", "b")),
          "L2NormalizeExpr" -> rate("L2NormalizeExpr", df,
            element_at(l2NormalizeWithNative(col("a"), lit(2.0)), 1),
            sizes("a")))
      }
    val txt =
      if (texts.isEmpty) Map.empty[String, Double]
      else {
        val df = cycle(texts).toDF("text")
        Map(
          "SimHashExpr" -> rate("SimHashExpr", df,
            Dedup.simhashNative(col("text")), length(col("text"))),
          "MinHashExpr" -> rate("MinHashExpr", df,
            size(Dedup.minhashNative(col("text"), 3, 16)("sig")),
            length(col("text"))))
      }
    Metrics.Kernels.map(k => k -> (vec ++ txt).getOrElse(k, 0.0)).toMap
  }
}

package perfbench

import graft.api.GraftSession
import scala.util.control.NonFatal

/** Benchmark entry point:
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir>
  * }}}
  * Prints one report line (the workload's own named metrics, sample counts
  * and any failures), then the result line: with `--trace 0` every
  * end-to-end metric, with `--trace 1` every per-layer metric. Exits 1 when
  * any call failed or any answer was wrong. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = Workload.All.find(_.name == opt("--workload")).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload ${opt("--workload")}; one of " +
          Workload.All.map(_.name).mkString(", ")))
    // any integer; one beyond the 64-bit range keeps its low 64 bits
    val seed = BigInt(opt("--seed")).toLong
    val seconds = opt("--seconds").toInt
    val traced = opt("--trace") == "1"
    val work = new java.io.File(opt("--work"))

    val cores = Runtime.getRuntime.availableProcessors()
    val builder = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", new java.io.File(work, "spark").getPath)
      .config("spark.sql.warehouse.dir",
        new java.io.File(work, "warehouse").getPath)
    // traced: keep whole stacks on plan origins, so every operator file
    // that built a query is named
    if (traced) builder.config("spark.sql.stackTracesInDataFrameContext", 64)
    val spark = builder.getOrCreate()
    Workload.log("session ready")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val rec = new Recorder(spark, traced)

    // any exception ends the run with exit 1 and no result line; Spark is
    // stopped either way, so no non-daemon thread keeps the JVM alive
    val code =
      try {
        val out = workload.run(Ctx(spark, seed, seconds, work, rec,
          if (traced) 1 else Workload.SetupReps))
        Workload.log(s"${workload.name} done: ${out.iterations} rounds")
        out.endToEnd.foreach { case (k, v) =>
          if (v.isNaN || v.isInfinite) rec.failures += s"$k has no samples"
        }
        val correct = rec.failed == 0
        val values = tracer match {
          case None => out.endToEnd
          case Some(t) =>
            t.drain()
            perLayer(t, rec, out.iterations) ++
              Kernels.measure(spark, out.vectors, out.texts)
                .map { case (k, v) => s"functions.$k.rows_per_s" -> v }
        }
        println(reportLine(workload.name, seed, traced, rec, out))
        println(Metrics.resultLine(correct, rec.attempted, rec.failed,
          if (traced) Metrics.PerLayer else Metrics.EndToEnd, values))
        System.out.flush()
        if (correct) 0 else 1
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  private def reportLine(workload: String, seed: Long, traced: Boolean,
                         rec: Recorder, out: Outcome): String = {
    val frac = rec.failed.toDouble / math.max(1L, rec.attempted)
    val metrics = (("failed_op_frac", frac, "ratio", rec.attempted.toInt) +:
      out.report).map { case (n, v, u, k) =>
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}, "n": $k}"""
    }
    s"""{"report": {"workload": ${Json.str(workload)}, "seed": $seed, """ +
      s""""traced": $traced, "iterations": ${out.iterations}, """ +
      s""""metrics": {${metrics.mkString(", ")}}, """ +
      s""""failures": [${rec.failures.take(10).map(Json.str).mkString(", ")}]}}"""
  }

  /** Per-op counters are per call (except `calls`); per-module counters
    * are per loop iteration. */
  private def perLayer(t: Tracer, rec: Recorder, iterations: Long)
      : Map[String, Double] = {
    val Mb = 1e6
    val groups = t.rollup()
    def counter(group: String, name: String, per: Double): Double = {
      val c = groups.getOrElse(group, new Tracer.Counters)
      val v = name match {
        case "jobs" => c.jobs.toDouble
        case "stages" => c.stages.toDouble
        case "tasks" => c.tasks.toDouble
        case "executor_cpu_s" => c.cpuNs / 1e9
        case "scheduler_delay_s" => c.schedDelayMs / 1e3
        case "shuffle_write_mb" => c.shuffleWrite / Mb
        case "shuffle_read_mb" => c.shuffleRead / Mb
        case "spill_mb" => c.spill / Mb
        case "input_mb" => c.input / Mb
        case "output_mb" => c.output / Mb
      }
      if (per > 0) v / per else 0.0
    }
    def op(o: String, names: Seq[String]): Seq[(String, Double)] = {
      val cs = rec.of(o)
      val n = cs.size.toDouble
      names.map { name =>
        s"api.$o.$name" -> (name match {
          case "calls" => n
          case "wall_s" => if (n > 0) cs.map(_.ms).sum / 1e3 / n else 0.0
          case "driver_gap_s" =>
            if (n > 0) t.driverGapMs(o, cs.map(c => (c.startMs, c.endMs))) /
              1e3 / n else 0.0
          case other => counter(s"api.$o", other, n)
        })
      }
    }
    def ratio(o: String, bytes: Tracer.Counters => Long): Double = {
      val items = rec.of(o).map(_.items).sum
      if (items > 0)
        bytes(groups.getOrElse(s"api.$o", new Tracer.Counters)).toDouble / items
      else 0.0
    }
    val it = iterations.toDouble
    (Metrics.FullOps.flatMap(op(_, Metrics.Counters.map(_._1))) ++
      Metrics.ShortOps.flatMap(op(_, Metrics.ShortCounters)) ++
      Seq("api.add_versions.input_bytes_per_version" ->
        ratio("add_versions", _.input),
        "api.get_version.shuffle_bytes_per_row" ->
          ratio("get_version", _.shuffleWrite)) ++
      Tracer.Members.values.toSeq.flatMap(m => Metrics.MemberCounters.map(c =>
        s"api.member.$m.$c" -> counter(s"api.member.$m", c, it))) ++
      Tracer.Operators.flatMap(o => Metrics.OperatorCounters.map(c =>
        s"operators.$o.$c" -> counter(s"operators.$o", c, it)))).toMap
  }
}

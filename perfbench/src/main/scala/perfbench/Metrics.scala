package perfbench

/** Every metric the command can print, by name and unit. The final result
  * line carries exactly [[EndToEnd]] (untraced) or exactly [[PerLayer]]
  * (traced); BENCHMARK.json declares the same lists. */
object Metrics {

  final case class Decl(name: String, unit: String, better: String)

  /** Reported by every workload; README.md says which call each one times
    * on each workload. Read latencies stay on the report line: across seeds
    * they spread more than a regression bound can tolerate. So do the
    * per-item append rates, which are `write_ms` inverted. */
  val EndToEnd: Seq[Decl] = Seq(
    Decl("setup_s", "s", "lower"),
    Decl("write_ms", "ms", "lower"),
    Decl("pinned_mb", "MB", "lower"),
    Decl("space_amp", "ratio", "lower"))

  val Counters: Seq[(String, String, String)] = Seq(
    ("calls", "count", "higher"), ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"), ("stages", "count", "lower"),
    ("tasks", "count", "lower"), ("executor_cpu_s", "s", "lower"),
    ("scheduler_delay_s", "s", "lower"), ("driver_gap_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"), ("shuffle_read_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"), ("input_mb", "MB", "lower"),
    ("output_mb", "MB", "lower"))

  /** Facade ops that get every counter; the rest get [[ShortCounters]]. */
  val FullOps: Seq[String] = Seq("add_versions", "get_version",
    "curation_append")
  val ShortOps: Seq[String] = Seq("get_version_at_time", "get_version_range",
    "search_latest", "search_bases", "batch_reconstruct", "kept", "kept_at")
  val ShortCounters: Seq[String] = Seq("calls", "wall_s", "jobs", "tasks",
    "executor_cpu_s", "driver_gap_s", "input_mb")
  val MemberCounters: Seq[String] = Seq("jobs", "executor_cpu_s")
  val OperatorCounters: Seq[String] = Seq("jobs", "executor_cpu_s",
    "shuffle_write_mb")
  val Kernels: Seq[String] = Seq("SparseDiffExpr", "ApplyMapDeltaExpr",
    "DotProduct", "L2NormalizeExpr", "SimHashExpr", "MinHashExpr")

  private def counter(prefix: String, name: String): Decl = {
    val (_, unit, better) = Counters.find(_._1 == name).get
    Decl(s"$prefix.$name", unit, better)
  }

  val PerLayer: Seq[Decl] =
    FullOps.flatMap(o => Counters.map(c => counter(s"api.$o", c._1))) ++
      ShortOps.flatMap(o => ShortCounters.map(counter(s"api.$o", _))) ++
      Seq(Decl("api.add_versions.input_bytes_per_version", "B", "lower"),
        Decl("api.get_version.shuffle_bytes_per_row", "B", "lower")) ++
      Tracer.Members.values.toSeq.sorted.flatMap(m =>
        MemberCounters.map(counter(s"api.member.$m", _))) ++
      Tracer.Operators.flatMap(o =>
        OperatorCounters.map(counter(s"operators.$o", _))) ++
      Kernels.map(k => Decl(s"functions.$k.rows_per_s", "1/s", "higher"))

  /** The result line: `values` must name exactly the declared metrics. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 decls: Seq[Decl], values: Map[String, Double]): String = {
    val names = decls.map(_.name)
    require(values.keySet == names.toSet,
      s"metrics differ from the declared set: " +
        s"extra ${values.keySet.diff(names.toSet)}, " +
        s"missing ${names.toSet.diff(values.keySet)}")
    val ms = decls.map(d =>
      s""""${d.name}": {"value": ${Json.num(values(d.name))}, "unit": "${d.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

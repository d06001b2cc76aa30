package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.PlanFiles
import scala.collection.mutable

/** Per-layer attribution, measured from outside the program.
  *
  * The benchmark tags each facade call it makes with a local property
  * ([[Tracer.OpKey]]); Spark copies it onto every job the call submits,
  * including jobs from threads the call starts. This listener rolls the
  * jobs' stage and task metrics up per op, and per module. A job belongs to
  * every member store and operator file that either is on the stack that
  * submitted it (the stage call sites: the short `StageInfo.name`, e.g.
  * `parquet at FingerprintStore.scala:123`, and the long stack in
  * `StageInfo.details`) or built part of its query (the origins the
  * DataFrame API records on plan expressions), since lazily built plans
  * run from the caller's stack. */
object Tracer {
  val OpKey = "perfbench.op"
  private val ExecutionKey = "spark.sql.execution.id"

  /** Member-store source file → member name under `api.member`. */
  val Members: Map[String, String] = Map(
    "SubstringDedupStore.scala" -> "sub", "FingerprintStore.scala" -> "fp",
    "FuzzyKeyStore.scala" -> "fz", "MinHashDedupStore.scala" -> "mh",
    "SemanticDedupStore.scala" -> "sm")

  /** Operator files reported under `operators`. */
  val Operators: Seq[String] = Seq("VersionStore", "Reconstruction",
    "SimilaritySearch", "Dedup", "SubstringIndex", "Ckpt")

  /** Source file → repo module, for the files the benchmark attributes. */
  def moduleOf(file: String): Option[String] =
    Members.get(file).map("api.member." + _).orElse(
      Operators.find(o => file == s"$o.scala").map("operators." + _))

  private val FileRef = """([A-Za-z0-9_$]+\.scala):\d+""".r

  /** Every attributed module named by a stage's call site. */
  def modulesOf(name: String, details: String): Set[String] =
    FileRef.findAllMatchIn(s"$name\n$details").map(_.group(1))
      .flatMap(moduleOf).toSet

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var schedDelayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var input = 0L; var output = 0L

    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; input += o.input; output += o.output
    }
  }

  private final class Job(val op: String, val execution: Option[Long],
                          val start: Long, val stages: Seq[Int],
                          val callSites: Set[String]) {
    var end: Option[Long] = None
  }
}

final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val jobs = mutable.Map[Int, Job]()
  /** Counters of each stage, owned by the first tagged job that lists it. */
  private val stages = mutable.Map[Int, Counters]()
  private val executionModules = mutable.Map[Long, Set[String]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      val execution = props.flatMap(p => Option(p.getProperty(ExecutionKey)))
        .map(_.toLong)
      val owned = e.stageIds.filterNot(stages.contains)
      owned.foreach(stages(_) = new Counters)
      jobs(e.jobId) = new Job(op, execution, e.time, owned,
        e.stageInfos.flatMap(s => modulesOf(s.name, s.details)).toSet)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Some(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { x =>
      val info = e.taskInfo
      x.tasks += 1
      x.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      x.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime
         else 0L))
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      x.input += m.inputMetrics.bytesRead
      x.output += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val mods = PlanFiles.of(end).flatMap(moduleOf)
      synchronized { executionModules(end.executionId) = mods }
    case _ => ()
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(sc)

  /** Counters per group: `api.<op>` and every attributed module. */
  def rollup(): Map[String, Counters] = synchronized {
    val out = mutable.Map[String, Counters]()
    jobs.values.foreach { j =>
      val mods = j.callSites ++
        j.execution.flatMap(executionModules.get).getOrElse(Set.empty)
      val job = new Counters
      job.jobs = 1
      j.stages.foreach(s => job.add(stages(s)))
      (s"api.${j.op}" +: mods.toSeq).foreach(
        out.getOrElseUpdate(_, new Counters).add(job))
    }
    out.toMap
  }

  /** Wall time of `windows` (ms intervals) not covered by any job of `op`. */
  def driverGapMs(op: String, windows: Seq[(Long, Long)]): Long =
    synchronized {
      val spans = jobs.values.filter(_.op == op)
        .flatMap(j => j.end.map((j.start, _))).toSeq.sortBy(_._1)
      windows.map { case (w0, w1) =>
        var covered = 0L; var cur = w0
        spans.foreach { case (s, e) =>
          val a = math.max(s, cur); val b = math.min(e, w1)
          if (b > a) { covered += b - a; cur = b }
        }
        (w1 - w0) - covered
      }.sum
    }
}

package perfbench

import graft.api.{CurationDB, TemporalVectorDB}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload run hands back to [[Main]]. `report` holds the
  * workload's own named metrics (value, unit, sample count); `iterations`
  * counts loop rounds, the base the per-module trace counters are divided
  * by; `vectors` and `texts` are the workload's own inputs for the kernel
  * micro-calls. */
final case class Outcome(endToEnd: Map[String, Double],
                         report: Seq[(String, Double, String, Int)],
                         iterations: Long,
                         vectors: Seq[(Array[Float], Array[Float])],
                         texts: Seq[String])

/** `setupReps`: how many times the run sets up ([[Workload.setup]]). */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     work: java.io.File, rec: Recorder, setupReps: Int)

/** Closed-loop, single-client workloads: one call outstanding at a time,
  * the next sent when the previous answer is in and checked. */
sealed trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

object Workload {
  val All: Seq[Workload] = Seq(Tvdb, CurationAppend)

  /** Set-up runs this many times in an untraced run; `setup_s` is the
    * median. A traced run reports no `setup_s` and sets up once. */
  val SetupReps = 3

  /** Run `mk` `ctx.setupReps` times (each into a fresh directory); `mk`
    * returns its product and the seconds its program calls took. All but
    * the last product are closed. Returns the median seconds and the last
    * product. */
  def setup[T](ctx: Ctx)(mk: java.io.File => (T, Double))(close: T => Unit)
      : (Double, T) = {
    val runs = (1 to ctx.setupReps).map { i =>
      val dir = new java.io.File(ctx.work, s"setup$i")
      val r = mk(dir)
      log(f"setup $i: ${r._2}%.3f s")
      if (i < ctx.setupReps) { close(r._1); delete(dir) }
      r
    }
    (Stats.median(runs.map(_._2)), runs.last._1)
  }

  /** The closed loop. First one warm-up round, checked but neither timed
    * nor traced: the first round after set-up pays one-time JIT and
    * query-code compilation of the write path (its append took 35% longer
    * than the next on `tvdb`, 16% on `curation-append`), which a
    * long-running store pays once, not per append. Then rounds run back
    * to back for `seconds`, and another round starts only while one more
    * of the last round's length would still end by the deadline (there is
    * always at least one). Returns the number of measured rounds. */
  def loop(rec: Recorder, seconds: Int)(round: => Unit): Long = {
    rec.warmup(round)
    val deadline = System.nanoTime() + seconds * 1000000000L
    var n = 0L
    var last = 0L
    while (n == 0 || System.nanoTime() + last <= deadline) {
      val t0 = System.nanoTime()
      round
      last = System.nanoTime() - t0
      n += 1
    }
    n
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1e3}%.1f s: $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def diskBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(diskBytes).sum).getOrElse(0L)

  /** Storage held by cached or checkpointed blocks, MB: read after a GC
    * once two readings 100 ms apart agree, so blocks that asynchronous
    * unpersists or the context cleaner are about to drop are not counted. */
  def pinnedMb(spark: SparkSession): Double = {
    def bytes() = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    System.gc()
    var prev = -1L
    var cur = bytes()
    var tries = 0
    while (cur != prev && tries < 50) {
      Thread.sleep(100)
      prev = cur
      cur = bytes()
      tries += 1
    }
    cur / 1e6
  }

  def secs(cs: Seq[Call]): Double = cs.map(_.ms).sum / 1e3

  def ms(cs: Seq[Call]): Seq[Double] = cs.map(_.ms)

  /** Median (and supported tail) of `cs` in `unit` ("ms" or "s"). */
  def latency(name: String, cs: Seq[Call], unit: String)
      : Seq[(String, Double, String, Int)] = {
    val xs = ms(cs).map(x => if (unit == "s") x / 1e3 else x)
    (s"${name}_p50_$unit", Stats.median(xs), unit, xs.size) +:
      Stats.tail(xs).toSeq.map { case (p, v) =>
        (s"${name}_${p}_$unit", v, unit, xs.size) }
  }

  def rate(name: String, cs: Seq[Call]): (String, Double, String, Int) =
    (name, cs.map(_.items).sum / secs(cs), "1/s", cs.size)

  def floats(r: Row, i: Int): Array[Float] =
    if (r.isNullAt(i)) null else r.getSeq[Float](i).toArray

  /** Check reconstructed (content_id, seq, embedding) rows against the
    * stream's model; the rows must be exactly `want`. */
  def checkVersions(what: String, rows: Array[Row], stream: TemporalStream,
                    want: Seq[(Int, Int)]): Either[String, Long] = {
    val got = rows.map(r => (r.getString(0), r.getInt(1)) -> floats(r, 2))
      .toMap
    val wantIds = want.map { case (c, s) => (stream.timelines(c).id, s) }
    if (got.size != rows.length || got.keySet != wantIds.toSet)
      Left(s"$what: got versions ${got.keySet.take(5)}, " +
        s"want ${wantIds.take(5)} (${rows.length} vs ${wantIds.size} rows)")
    else want.iterator.map { case (c, s) =>
      val tl = stream.timelines(c)
      Checks.reconstruction(s"$what ${tl.id}#$s", got((tl.id, s)),
        tl.expected(s - 1))
    }.collectFirst { case Some(why) => why }.toLeft(rows.length.toLong)
  }

  def checkKnn(what: String, rows: Array[Row], query: Array[Float],
               corpus: Map[String, Array[Double]], k: Int)
      : Either[String, Long] =
    Checks.knn(what, rows.map(r => (r.getString(1), r.getDouble(2))).toSeq,
      query, corpus, k).toLeft(rows.length.toLong)

  /** Seqs of every stored content are 1..n with n as generated. */
  def verifySeqs(rec: Recorder, db: TemporalVectorDB,
                 stream: TemporalStream): Unit =
    rec.verify("seqs contiguous") {
      val stored = db.versions.groupBy("content_id")
        .agg(min("seq"), max("seq"), count(lit(1))).collect()
        .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2), r.getLong(3)))
        .toMap
      Checks.seqsContiguous(stored,
        stream.timelines.map(t => t.id -> t.size).toMap)
    }

  def pairs(stream: TemporalStream): Seq[(Array[Float], Array[Float])] =
    stream.timelines.toSeq.flatMap(t => t.truth.zip(t.truth.drop(1)))
}

import Workload._

/** The temporal store: a store built during set-up with base-interval
  * delta chains and both kNN indexes live, then rounds of one append (a
  * hot-content-favouring batch) followed by every read a user makes:
  * just-written versions, latest-state kNN, an as-of-time read, a seq
  * range, kNN on the base index, and a large batch reconstruction. Each
  * round's append grows the store the next round reads. */
object Tvdb extends Workload {
  val name = "tvdb"
  val Contents = 1000
  val Dim = 64
  val Versions = 20
  val Touch = 100
  val PerTouch = 3
  val RangeLen = 5
  /** Reads of a just-written version, and latest-state kNN queries, per
    * round: the cheap calls, repeated so their medians are steadier. */
  val Reads = 2
  val BatchTargets = 2000
  val K = 5

  def run(ctx: Ctx): Outcome = {
    import ctx._
    def round(db: TemporalVectorDB, stream: TemporalStream): Unit = {
      def versions(op: String, df: => DataFrame, want: Seq[(Int, Int)]) =
        rec.call(op)(df.select("content_id", "seq", "embedding").collect())(
          checkVersions(op, _, stream, want))
      val (touched, rows) = stream.batch(Touch, PerTouch)
      val df = spark.createDataFrame(rows).toDF("content_id", "ts", "embedding")
      rec.call("add_versions")(db.addVersions(df))(_ => Right(rows.size.toLong))
      (1 to Reads).foreach { _ =>
        val c = touched(stream.randomInt(touched.size))
        val tl = stream.timelines(c)
        versions("get_version", db.getVersion(tl.id, tl.size),
          Seq((c, tl.size)))
        val q = stream.query(stream.randomContent())
        rec.call("search_latest")(db.searchLatestVersions(q, K).collect())(
          checkKnn("search_latest", _, q, stream.latestCorpus, K))
      }
      val c = touched(stream.randomInt(touched.size))
      val tl = stream.timelines(c)
      val s = 1 + stream.randomInt(tl.size)
      versions("get_version_at_time", db.getVersionAtTime(tl.id,
        new java.sql.Timestamp(tl.tsMs(s - 1) + 43200000L)), Seq((c, s)))
      val a = 1 + stream.randomInt(tl.size - RangeLen + 1)
      versions("get_version_range", db.getVersionRange(tl.id, a,
        a + RangeLen - 1), (a until a + RangeLen).map((c, _)))
      val q = stream.query(stream.randomContent())
      rec.call("search_bases")(db.searchSimilarContent(q, K).collect())(
        checkKnn("search_bases", _, q, stream.baseCorpus, K))
      val targets = Seq.fill(BatchTargets) {
        val t = stream.randomContent()
        (t, 1 + stream.randomInt(stream.timelines(t).size))
      }.distinct
      versions("batch_reconstruct", db.batchReconstruct(spark.createDataFrame(
        targets.map { case (t, v) => (stream.timelines(t).id, v) })
        .toDF("content_id", "seq")), targets)
    }

    val (setupS, (db, stream)) = setup(ctx) { dir =>
      val stream = new TemporalStream(seed, Contents, Dim)
      val df = spark.createDataFrame(stream.initial(Versions))
        .toDF("content_id", "ts", "embedding")
      val db = new TemporalVectorDB(spark, new java.io.File(dir, "store").getPath)
      timed { db.addVersions(df); db.cacheBases(); db.cacheLatest(); (db, stream) }
    }(_._1.close())
    val iters = loop(rec, seconds)(round(db, stream))
    verifySeqs(rec, db, stream)
    val pinned = pinnedMb(spark)
    val amp = diskBytes(
      new java.io.File(ctx.work, s"setup${ctx.setupReps}/store"))
      .toDouble / stream.inputBytes
    db.close()

    val appends = rec.of("add_versions")
    val points = rec.of("get_version", "get_version_at_time",
      "get_version_range")
    val knn = rec.of("search_latest", "search_bases")
    Outcome(
      Map("setup_s" -> setupS, "write_ms" -> Stats.median(ms(appends)),
        "pinned_mb" -> pinned, "space_amp" -> amp),
      Seq(rate("ingest_versions_per_s", appends)) ++
        latency("append", appends, "s") ++
        latency("point_read", points, "ms") ++ latency("knn", knn, "ms") ++
        Seq(rate("reconstruct_versions_per_s", rec.of("batch_reconstruct")),
          ("pinned_mb", pinned, "MB", 1), ("space_amp", amp, "ratio", 1)),
      iters, pairs(stream), Nil)
  }
}

/** Five-store curation: init on a base corpus, then document-batch appends
  * carrying exact and near duplicates, each followed by a read of the
  * kept corpus, pinned for downstream readers in place of the previous
  * round's, and a time-travel read of the kept set as of the previous
  * epoch. Knobs are those of q122 (eight semantic cells, no forced
  * retrain). */
object CurationAppend extends Workload {
  val name = "curation-append"
  val BaseDocs = 400
  val BatchDocs = 100
  val Dim = 32
  val ExactFrac = 0.1
  val NearFrac = 0.1
  val Cfg = CurationDB.Config(nCells = 8, maxStaleFrac = 10.0)

  private def frame(spark: SparkSession, docs: Seq[Gen.Doc]) =
    spark.createDataFrame(docs.map(d => (d.id, d.text, d.key, d.embedding)))
      .toDF("doc_id", "text", "key", "embedding")

  private def bytes(docs: Seq[Gen.Doc]): Long =
    docs.map(d => d.text.length + d.key.length + 8L + 4L * d.embedding.length).sum

  def run(ctx: Ctx): Outcome = {
    import ctx._
    var stream: Gen.DocStream = null
    var appended = Set.empty[Long]
    var exactDups = Set.empty[Long]
    var nearDups = Set.empty[Long]
    var inputBytes = 0L
    var docs = Vector.empty[Gen.Doc]
    val (setupS, db) = setup(ctx) { dir =>
      stream = new Gen.DocStream(seed, Dim, ExactFrac, NearFrac)
      val base = stream.next(BaseDocs, withDups = false)
      appended = base.docs.map(_.id).toSet
      inputBytes = bytes(base.docs)
      docs = base.docs
      val df = frame(spark, base.docs)
      timed(CurationDB.init(spark, new java.io.File(dir, "db").getPath, df, Cfg))
    }(_.close())

    val iters = loop(rec, seconds) {
      val b = stream.next(BatchDocs, withDups = true)
      val (appendedBefore, dupsBefore) = (appended, exactDups)
      val requiredBefore = Checks.mustKeep(docs, nearDups, Cfg.maxHamming)
      appended ++= b.docs.map(_.id)
      exactDups ++= b.exactDups
      nearDups ++= b.nearDups
      inputBytes += bytes(b.docs)
      docs ++= b.docs
      val required = Checks.mustKeep(docs, nearDups, Cfg.maxHamming)
      Workload.log(s"${required.size} of ${docs.size} documents must be kept")
      val df = frame(spark, b.docs)
      val before = db.epoch
      rec.call("curation_append")(db.append(df))(n =>
        Checks.epochStep(before, n, db.epoch).toLeft(b.docs.size.toLong))
      rec.call("kept") {
        db.close() // free the previous round's pinned kept corpus
        db.cacheKept().select("doc_id").collect().map(_.getLong(0)).toSet
      }(kept => Checks.curated(kept, appended, exactDups, required)
        .toLeft(kept.size.toLong))
      rec.call("kept_at")(db.keptAt(before, db.corpus).select("doc_id")
        .collect().map(_.getLong(0)).toSet)(kept =>
        Checks.curated(kept, appendedBefore, dupsBefore, requiredBefore)
          .toLeft(kept.size.toLong))
    }
    val pinned = pinnedMb(spark)
    val amp = diskBytes(
      new java.io.File(ctx.work, s"setup${ctx.setupReps}/db"))
      .toDouble / inputBytes
    db.close()

    val appends = rec.of("curation_append")
    val kept = rec.of("kept")
    val keptAt = rec.of("kept_at")
    Outcome(
      Map("setup_s" -> setupS, "write_ms" -> Stats.median(ms(appends)),
        "pinned_mb" -> pinned, "space_amp" -> amp),
      Seq(rate("curation_docs_per_s", appends)) ++
        latency("curation_append", appends, "s") ++
        latency("kept_read", kept, "ms") ++
        latency("kept_at_read", keptAt, "ms") ++
        Seq(("pinned_mb", pinned, "MB", 1), ("space_amp", amp, "ratio", 1)),
      iters, docs.map(_.embedding).zip(docs.drop(1).map(_.embedding)),
      docs.map(_.text))
  }
}

package perfbench

import graft.operators.VersionStore
import java.sql.Timestamp
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** What the benchmark knows about one content: every true vector it handed
  * the store, and the value the store is specified to return for each
  * version. A version is stored as a base when it opens an ingest batch for
  * its content, is seq 1, falls on the base interval, or changes more than
  * the promotion ratio of dims; otherwise as the sparse diff from the
  * previous true vector (dims with |diff| >= the sparsity threshold). Its
  * specified reconstruction is the nearest base plus every later sparse
  * diff up to it. */
final class Timeline(val id: String) {
  val truth = ArrayBuffer[Array[Float]]()
  val expected = ArrayBuffer[Array[Double]]()
  val isBase = ArrayBuffer[Boolean]()
  val tsMs = ArrayBuffer[Long]()

  def size: Int = truth.size

  def add(v: Array[Float], ts: Long, batchStart: Boolean,
          cfg: VersionStore.Config): Unit = {
    val seq = size + 1
    val base = batchStart || seq == 1 || (seq - 1) % cfg.baseInterval == 0 ||
      changedDims(truth.last, v, cfg).toDouble / v.length > cfg.promotionRatio
    val exp =
      if (base) v.map(_.toDouble)
      else {
        val prev = truth.last
        val e = expected.last.clone()
        v.indices.foreach { i =>
          val d = v(i).toDouble - prev(i).toDouble
          if (math.abs(d) >= cfg.sparsityThreshold) e(i) += d.toFloat
        }
        e
      }
    truth += v; expected += exp; isBase += base; tsMs += ts
  }

  private def changedDims(prev: Array[Float], cur: Array[Float],
                          cfg: VersionStore.Config): Int =
    cur.indices.count(i =>
      math.abs(cur(i).toDouble - prev(i).toDouble) >= cfg.sparsityThreshold)
}

/** Seeded version stream over `nContents` contents of dimension `dim`,
  * with the model of what the store holds. Rows are
  * (content_id, ts, embedding), timestamps strictly increasing per content
  * (one day apart, offset by content index). */
final class TemporalStream(seed: Long, val nContents: Int, val dim: Int,
                           val cfg: VersionStore.Config =
                             VersionStore.Config()) {
  private val rnd = Gen.rng(seed, 1)
  val timelines: Array[Timeline] =
    Array.tabulate(nContents)(i => new Timeline(Gen.contentId(i)))
  private val current: Array[Array[Float]] =
    Array.fill(nContents)(Gen.randomUnit(rnd, dim))
  private var rawBytes = 0L

  /** Bytes of every row handed out so far, as the caller holds them. */
  def inputBytes: Long = rawBytes

  def ts(content: Int, seq: Int): Long =
    Gen.EpochMs + seq * 86400000L + content * 1000L

  private def emit(content: Int, n: Int)
      : Seq[(String, Timestamp, Array[Float])] = {
    val tl = timelines(content)
    (0 until n).map { k =>
      if (tl.size > 0) current(content) = Gen.edit(current(content), rnd)
      val v = current(content)
      val t = ts(content, tl.size + 1)
      tl.add(v, t, batchStart = k == 0, cfg)
      rawBytes += tl.id.length + 8 + 4L * dim
      (tl.id, new Timestamp(t), v)
    }
  }

  /** `perContent` versions of every content. */
  def initial(perContent: Int): Seq[(String, Timestamp, Array[Float])] =
    (0 until nContents).flatMap(emit(_, perContent))

  /** `perContent` new versions for each of `touch` distinct contents,
    * chosen hot-first; returns the touched content indices too. */
  def batch(touch: Int, perContent: Int)
      : (Seq[Int], Seq[(String, Timestamp, Array[Float])]) = {
    val picked = mutable.LinkedHashSet[Int]()
    while (picked.size < math.min(touch, nContents))
      picked += Gen.skewedIndex(rnd, nContents)
    val order = picked.toSeq
    (order, order.flatMap(emit(_, perContent)))
  }

  /** Specified latest reconstruction of every content, keyed as the
    * latest-state search reports ids ("content#seq"), unit-normalised. */
  def latestCorpus: Map[String, Array[Double]] =
    timelines.iterator.filter(_.size > 0).map { t =>
      s"${t.id}#${t.size}" -> Checks.unit(t.expected.last)
    }.toMap

  /** True vector of every stored base, keyed "content#seq". */
  def baseCorpus: Map[String, Array[Double]] =
    timelines.iterator.flatMap { t =>
      t.isBase.indices.filter(t.isBase(_)).map(i =>
        s"${t.id}#${i + 1}" -> Checks.unit(t.truth(i).map(_.toDouble)))
    }.toMap

  /** A query near content `c`'s current vector. */
  def query(c: Int): Array[Float] =
    Gen.normalize(current(c).map(x => x + (rnd.nextGaussian() * 0.05).toFloat))

  def randomContent(): Int = rnd.nextInt(nContents)
  def randomInt(n: Int): Int = rnd.nextInt(n)
}

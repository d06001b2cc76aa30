package perfbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Everything the benchmark feeds the program is a
  * pure function of the seed, so the same seed gives the same inputs.
  *
  * Embedding histories port the reference's article-evolution edit mix
  * (typo_fix → major_revision, footprints dim/50 … dim/2, L2-normalised after
  * every edit). Documents are word sequences over a skewed synthetic
  * vocabulary with a controlled share of exact and near duplicates. */
object Gen {

  final case class Edit(name: String, frac: Double, scale: Double, p: Double)

  val Edits: Seq[Edit] = Seq(
    Edit("typo_fix", 1.0 / 50, 0.02, 0.40),
    Edit("minor_edit", 1.0 / 20, 0.05, 0.35),
    Edit("section_edit", 1.0 / 8, 0.12, 0.20),
    Edit("major_revision", 1.0 / 2, 0.30, 0.05))

  /** Epoch of every generated timestamp (fixed, so inputs do not depend on
    * the wall clock). */
  val EpochMs: Long = Timestamp.valueOf("2025-01-01 00:00:00").getTime

  def rng(seed: Long, stream: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream * 7919L + 17L)

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  def randomUnit(rnd: scala.util.Random, dim: Int): Array[Float] =
    normalize(Array.fill(dim)(rnd.nextGaussian().toFloat))

  /** One edit of `cur`, drawn from the reference mix. */
  def edit(cur: Array[Float], rnd: scala.util.Random): Array[Float] = {
    val dim = cur.length
    val r = rnd.nextDouble()
    val i = Edits.scanLeft(0.0)(_ + _.p).tail.indexWhere(_ >= r)
    val e = Edits(if (i < 0) Edits.size - 1 else i)
    val nDims = math.max(1, (dim * e.frac).toInt)
    val touched = rnd.shuffle((0 until dim).toVector).take(nDims)
    val next = cur.clone()
    touched.foreach(i => next(i) += (rnd.nextGaussian() * e.scale).toFloat)
    normalize(next)
  }

  /** Hot-content-favouring pick: index u^3 · n over a uniform u. */
  def skewedIndex(rnd: scala.util.Random, n: Int): Int =
    math.min(n - 1, (math.pow(rnd.nextDouble(), 3) * n).toInt)

  def contentId(i: Int): String = f"c$i%05d"

  // ---------------------------------------------------------------- texts

  private val Syll = Array("ka", "ri", "to", "mel", "an", "sor", "vi", "du",
    "pel", "qua", "ne", "lo", "zu", "tir", "ba", "gon")

  /** Synthetic vocabulary, word w is drawn with weight ~ 1/(w+1). */
  final class Vocab(size: Int, rnd: scala.util.Random) {
    val words: Array[String] = Array.tabulate(size) { _ =>
      (0 until 2 + rnd.nextInt(3)).map(_ => Syll(rnd.nextInt(Syll.length)))
        .mkString
    }
    private val cum: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / (i + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(r: scala.util.Random): String = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cum, u)
      words(math.min(size - 1, if (i >= 0) i else -i - 1))
    }
  }

  /** q122's fuzzy key: lower-cased alphanumerics, first 24 chars, trimmed. */
  def keyOf(text: String): String =
    text.toLowerCase.replaceAll("[^A-Za-z0-9 ]", "").take(24).trim

  /** A generated document; `origin` is the id of the fresh document it
    * was copied from (through any chain of copies), its own id if fresh. */
  final case class Doc(id: Long, text: String, key: String,
                       embedding: Array[Float], origin: Long)

  final case class DocBatch(docs: Vector[Doc], exactDups: Set[Long],
                            nearDups: Set[Long])

  /** Stateful document stream: base corpus first, then appended batches.
    * Every id is fresh and increasing; a duplicate copies an earlier
    * document (exact: same text, key and embedding; near: two words
    * replaced and a small embedding perturbation). */
  final class DocStream(seed: Long, val dim: Int, exactFrac: Double,
                        nearFrac: Double) {
    private val rnd = rng(seed, 2)
    private val vocab = new Vocab(3000, rng(seed, 3))
    private val emitted = ArrayBuffer[Doc]()
    private var nextId = 1L

    private def fresh(): Doc = {
      val n = 30 + rnd.nextInt(31)
      val text = Vector.fill(n)(vocab.draw(rnd)).mkString(" ")
      Doc(nextId, text, keyOf(text), randomUnit(rnd, dim), nextId)
    }

    private def nearCopy(src: Doc): Doc = {
      val words = src.text.split(" ")
      (0 until 2).foreach(_ => words(rnd.nextInt(words.length)) =
        vocab.draw(rnd))
      val text = words.mkString(" ")
      val emb = normalize(src.embedding.map(x =>
        x + (rnd.nextGaussian() * 0.01).toFloat))
      Doc(nextId, text, keyOf(text), emb, src.origin)
    }

    def next(n: Int, withDups: Boolean): DocBatch = {
      val out = ArrayBuffer[Doc]()
      val exact = Set.newBuilder[Long]
      val near = Set.newBuilder[Long]
      (0 until n).foreach { _ =>
        val r = rnd.nextDouble()
        val d =
          if (withDups && emitted.nonEmpty && r < exactFrac) {
            val src = emitted(rnd.nextInt(emitted.size))
            exact += nextId
            src.copy(id = nextId)
          } else if (withDups && emitted.nonEmpty && r < exactFrac + nearFrac) {
            near += nextId
            nearCopy(emitted(rnd.nextInt(emitted.size)))
          } else fresh()
        nextId += 1
        out += d
      }
      emitted ++= out
      DocBatch(out.toVector, exact.result(), near.result())
    }
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every correctness check passes a right answer and fails a corrupted one. */
class ChecksSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(1)
  private def vec(dim: Int) = Gen.randomUnit(rnd, dim)

  test("reconstruction: exact passes, a perturbed or truncated vector fails") {
    val v = vec(32)
    val expected = v.map(_.toDouble)
    assert(Checks.reconstruction("v", v, expected).isEmpty)
    val bent = v.clone(); bent(3) += 0.02f
    assert(Checks.reconstruction("v", bent, expected).nonEmpty)
    assert(Checks.reconstruction("v", v.take(31), expected).nonEmpty)
    assert(Checks.reconstruction("v", null, expected).nonEmpty)
  }

  test("knn: the brute-force top-k passes; a swapped, mis-scored or short " +
    "answer fails") {
    val corpus = (0 until 40).map(i => s"c$i" -> Checks.unit(
      vec(16).map(_.toDouble))).toMap
    val q = vec(16)
    val qd = Checks.unit(q.map(_.toDouble))
    val ranked = corpus.toSeq.map { case (id, v) =>
      id -> v.zip(qd).map { case (a, b) => a * b }.sum }
      .filter(_._2 > 0).sortBy(-_._2)
    val right = ranked.take(5)
    assert(Checks.knn("q", right, q, corpus, 5).isEmpty)
    val swapped = right.init :+ ranked(8)
    assert(Checks.knn("q", swapped, q, corpus, 5).nonEmpty)
    val misScored = right.updated(0, (right.head._1, right.head._2 - 0.01))
    assert(Checks.knn("q", misScored, q, corpus, 5).nonEmpty)
    assert(Checks.knn("q", right.take(4), q, corpus, 5).nonEmpty)
    assert(Checks.knn("q", right.init :+ right.head, q, corpus, 5).nonEmpty)
  }

  test("seqs: 1..n passes; a gap, a missing or an unknown content fails") {
    val counts = Map("a" -> 3, "b" -> 1)
    assert(Checks.seqsContiguous(
      Map("a" -> (1, 3, 3L), "b" -> (1, 1, 1L)), counts).isEmpty)
    assert(Checks.seqsContiguous(
      Map("a" -> (1, 4, 3L), "b" -> (1, 1, 1L)), counts).nonEmpty)
    assert(Checks.seqsContiguous(Map("a" -> (1, 3, 3L)), counts).nonEmpty)
    assert(Checks.seqsContiguous(Map("a" -> (1, 3, 3L), "b" -> (1, 1, 1L),
      "z" -> (1, 1, 1L)), counts).nonEmpty)
  }

  test("curation: a kept exact duplicate, a never-appended id, or a " +
    "dropped required document fails; so do empty and over-pruned sets") {
    val appended = (1L to 10L).toSet
    val required = Set(1L, 2L, 5L)
    assert(Checks.curated(Set(1L, 2L, 5L, 7L), appended, Set(9L), required)
      .isEmpty)
    assert(Checks.curated(Set(1L, 2L, 5L, 9L), appended, Set(9L), required)
      .nonEmpty)
    assert(Checks.curated(Set(1L, 2L, 5L, 11L), appended, Set(9L), required)
      .nonEmpty)
    assert(Checks.curated(Set.empty, appended, Set(9L), required).nonEmpty)
    assert(Checks.curated(Set(1L, 2L), appended, Set(9L), required).nonEmpty)
  }

  test("must keep: fresh documents with only exact copies; not the copies, " +
    "not the source of a near copy, not a key one edit from another's, " +
    "not a SimHash within the Hamming radius of another's") {
    val s = new Gen.DocStream(7, 8, 0.2, 0.2)
    val base = s.next(200, withDups = false)
    val b = s.next(200, withDups = true)
    val docs = base.docs ++ b.docs
    val must = Checks.mustKeep(docs, b.nearDups, 3)
    val nearSources = docs.filter(d => b.nearDups(d.id)).map(_.origin).toSet
    assert(b.exactDups.nonEmpty && nearSources.nonEmpty)
    assert(must.intersect(b.exactDups ++ b.nearDups).isEmpty)
    assert(must.intersect(nearSources).isEmpty)
    // almost every fresh document is required: the check has teeth
    val fresh = docs.filter(d => d.origin == d.id).map(_.id).toSet
    assert(must.subsetOf(fresh))
    assert(must.size >= (fresh -- nearSources).size * 9 / 10)
    // a document whose key is one edit from another family's key is not
    val d = base.docs.find(d => must(d.id)).get
    val twin = base.docs.last.copy(id = 1000, key = d.key.dropRight(1) + "#",
      origin = 1000)
    assert(!Checks.mustKeep(docs :+ twin, b.nearDups, 3)(d.id))
    val lookalike = d.copy(id = 1001, key = "unrelated key", origin = 1001)
    assert(!Checks.mustKeep(docs :+ lookalike, b.nearDups, 3)(d.id))
    assert(Checks.mustKeep(docs :+ lookalike, b.nearDups, -1)(d.id))
  }

  test("the recomputed SimHash equals the program's") {
    val s = new Gen.DocStream(2, 8, 0.0, 0.0)
    (s.next(50, withDups = false).docs.map(_.text) ++ Seq("a", "a  b ", ""))
      .foreach(t => assert(Checks.simhash(t) == graft.functions.SimHashExpr
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t),
          Checks.SimhashBits), t))
  }

  test("epoch: one step passes; none or two fail") {
    assert(Checks.epochStep(3, 4, 4).isEmpty)
    assert(Checks.epochStep(3, 5, 5).nonEmpty)
    assert(Checks.epochStep(3, 4, 3).nonEmpty)
    assert(Checks.epochStep(3, 3, 3).nonEmpty)
  }
}

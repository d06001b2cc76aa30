package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def temporal(seed: Long) = {
    val s = new TemporalStream(seed, 50, 16)
    val init = s.initial(3)
    val batches = (1 to 3).map(_ => s.batch(10, 2))
    (init, batches, s.query(7))
  }

  private def flat(rows: Seq[(String, java.sql.Timestamp, Array[Float])]) =
    rows.map { case (c, t, v) => (c, t.getTime, v.toSeq) }

  test("version stream is deterministic in the seed") {
    val (i1, b1, q1) = temporal(11)
    val (i2, b2, q2) = temporal(11)
    assert(flat(i1) == flat(i2))
    assert(b1.map(b => (b._1, flat(b._2))) == b2.map(b => (b._1, flat(b._2))))
    assert(q1.toSeq == q2.toSeq)
    val (i3, b3, _) = temporal(12)
    assert(flat(i1) != flat(i3))
    assert(b1.map(_._1) != b3.map(_._1))
  }

  test("document stream is deterministic in the seed") {
    def docs(seed: Long) = {
      val s = new Gen.DocStream(seed, 8, 0.2, 0.2)
      (s.next(40, withDups = false) +: (1 to 3).map(_ => s.next(30, withDups = true)))
        .map(b => (b.docs.map(d => (d.id, d.text, d.key, d.embedding.toSeq)),
          b.exactDups, b.nearDups))
    }
    assert(docs(5) == docs(5))
    assert(docs(5) != docs(6))
  }

  test("exact duplicates copy an earlier document under a fresh id") {
    val s = new Gen.DocStream(3, 8, 0.3, 0.1)
    val base = s.next(40, withDups = false)
    assert(base.exactDups.isEmpty && base.nearDups.isEmpty)
    val b = s.next(60, withDups = true)
    assert(b.exactDups.nonEmpty)
    val earlier = base.docs.map(d => d.text -> d.embedding.toSeq).toSet
    b.docs.filter(d => b.exactDups(d.id)).foreach { d =>
      assert(earlier((d.text, d.embedding.toSeq)))
      assert(d.id > base.docs.map(_.id).max)
    }
  }

  test("the model stores a batch's first version and the interval seqs " +
    "as bases, and a base's specified value is its true vector") {
    val s = new TemporalStream(9, 5, 16)
    s.initial(12)
    val t = s.timelines(0)
    assert(t.isBase(0) && t.isBase(10))
    t.isBase.indices.filter(t.isBase(_)).foreach(i =>
      assert(t.expected(i).toSeq == t.truth(i).map(_.toDouble).toSeq))
    val (touched, _) = s.batch(5, 2)
    touched.foreach(c => assert(s.timelines(c).isBase(12)))
  }
}

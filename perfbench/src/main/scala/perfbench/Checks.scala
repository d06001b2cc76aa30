package perfbench

/** Correctness checks on the program's answers. Each returns None when the
  * answer is right and a one-line reason when it is not; every check runs
  * against the generator's own knowledge, never against another answer of
  * the program. */
object Checks {

  /** Reference L2 tolerance of a reconstruction (delta_computer.py:194). */
  val L2Tol = 0.01
  /** Reference cosine floor of a reconstruction (test_week1.py:233). */
  val CosFloor = 0.995
  /** Slack for float-vs-double rounding when comparing similarities. */
  val SimTol = 1e-4

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** A reconstructed version is within the L2 tolerance and the cosine
    * floor of the value the store is specified to return: the nearest base
    * plus the stored sparse diffs. The raw true vector is not the target,
    * because diffs below the sparsity threshold are dropped by design
    * (delta_computer.py:63-66) and their loss accumulates along a chain. */
  def reconstruction(what: String, got: Array[Float],
                     expected: Array[Double]): Option[String] = {
    if (got == null || got.length != expected.length)
      return Some(s"$what: embedding has ${Option(got).map(_.length)
        .getOrElse(0)} dims, want ${expected.length}")
    val g = got.map(_.toDouble)
    val l2 = math.sqrt(g.indices.map(i => (g(i) - expected(i)) *
      (g(i) - expected(i))).sum)
    val cos = dot(unit(g), unit(expected))
    if (l2 > L2Tol) Some(f"$what: L2 error $l2%.5f > $L2Tol")
    else if (cos < CosFloor) Some(f"$what: cosine $cos%.5f < $CosFloor")
    else None
  }

  /** A top-k answer equals a brute-force scan of `corpus` (unit vectors):
    * the same number of hits, each hit's similarity as scanned, and no
    * hit below the k-th best similarity (ties within [[SimTol]] may swap). */
  def knn(what: String, got: Seq[(String, Double)], query: Array[Float],
          corpus: Map[String, Array[Double]], k: Int): Option[String] = {
    val q = unit(query.map(_.toDouble))
    val sims = corpus.map { case (id, v) => id -> dot(q, v) }
    val ranked = sims.toSeq.filter(_._2 > 0).sortBy(-_._2)
    val want = ranked.take(k)
    if (got.size != want.size)
      return Some(s"$what: ${got.size} hits, brute force has ${want.size}")
    if (got.map(_._1).distinct.size != got.size)
      return Some(s"$what: duplicate ids in ${got.map(_._1)}")
    val floor = want.last._2
    got.collectFirst {
      case (id, _) if !sims.contains(id) => s"$what: $id is not in the corpus"
      case (id, s) if math.abs(sims(id) - s) > SimTol =>
        f"$what: $id similarity $s%.6f, brute force ${sims(id)}%.6f"
      case (id, _) if sims(id) < floor - SimTol =>
        f"$what: $id (${sims(id)}%.6f) ranks below the k-th best $floor%.6f"
    }
  }

  /** Stored seqs of every content are exactly 1..n, n its version count. */
  def seqsContiguous(stored: Map[String, (Int, Int, Long)],
                     counts: Map[String, Int]): Option[String] = {
    val missing = counts.keySet.diff(stored.keySet)
    if (missing.nonEmpty) return Some(s"contents missing: ${missing.take(5)}")
    val extra = stored.keySet.diff(counts.keySet)
    if (extra.nonEmpty) return Some(s"unknown contents: ${extra.take(5)}")
    stored.collectFirst {
      case (id, (lo, hi, n)) if lo != 1 || hi != counts(id) || n != hi =>
        s"$id: seqs min $lo max $hi count $n, want 1..${counts(id)}"
    }
  }

  /** A key and its one-character deletions: two keys that share one of
    * these are candidates for one fuzzy-key cluster at edit distance 1. */
  private def variants(key: String): Seq[String] =
    key +: key.indices.map(i => key.patch(i, "", 1))

  val SimhashBits = 56

  /** The fingerprint family's text SimHash, recomputed from its
    * specification (the engine-portable formula the program documents):
    * split on whitespace, take each token's first 7 md5 bytes big-endian,
    * and set bit j where more tokens have bit j set than not. */
  def simhash(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](SimhashBits)
    text.trim.split("\\s+", -1).foreach { tok =>
      val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = (0 until 7).foldLeft(0L)((h, i) => (h << 8) | (d(i) & 0xffL))
      (0 until SimhashBits).foreach(j =>
        votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1))
    }
    (0 until SimhashBits).foldLeft(0L)((out, j) =>
      if (votes(j) > 0) out | (1L << j) else out)
  }

  /** The documents of `docs` (all appended so far) that every curation
    * must keep: each fresh document no near copy descends from, whose
    * fuzzy key shares no one-edit variant with the key of a document of
    * another family, and whose SimHash is more than `maxHamming` bits from
    * theirs. Its family is then itself plus exact copies with higher ids:
    * no other document is a duplicate of it under any family's rule (the
    * generated texts share no long word spans or shingle sets, and the
    * embeddings are independent), and every family breaks ties between
    * identical documents towards the lowest id. A fresh document with a
    * near copy is not required: the semantic family keeps the member of a
    * cluster least similar to its centroid, which may be the copy. */
  def mustKeep(docs: Seq[Gen.Doc], nearDups: Set[Long],
               maxHamming: Int): Set[Long] = {
    val tainted = docs.filter(d => nearDups(d.id)).map(_.origin).toSet
    val origins = docs.flatMap(d => variants(d.key).map(_ -> d.origin))
      .groupBy(_._1).map { case (v, os) => v -> os.map(_._2).toSet }
    val hashes = docs.map(d => d.origin -> simhash(d.text))
    docs.filter { d =>
      lazy val h = simhash(d.text)
      d.origin == d.id && !tainted(d.id) &&
        variants(d.key).forall(origins(_) == Set(d.id)) &&
        hashes.forall { case (o, g) =>
          o == d.id || java.lang.Long.bitCount(h ^ g) > maxHamming }
    }.map(_.id).toSet
  }

  /** The kept set holds only appended ids, no injected exact duplicate,
    * and every document that must be kept. */
  def curated(kept: Set[Long], appended: Set[Long], exactDups: Set[Long],
              required: Set[Long]): Option[String] = {
    val stray = kept.diff(appended)
    val dups = kept.intersect(exactDups)
    val lost = required.diff(kept)
    if (stray.nonEmpty) Some(s"kept ids never appended: ${stray.take(5)}")
    else if (dups.nonEmpty) Some(s"exact duplicates kept: ${dups.take(5)}")
    else if (lost.nonEmpty)
      Some(s"${lost.size} unduplicated documents dropped: ${lost.take(5)}")
    else None
  }

  /** An append moves the facade epoch up by exactly one. */
  def epochStep(before: Long, returned: Long, after: Long): Option[String] =
    if (returned == before + 1 && after == before + 1) None
    else Some(s"epoch $before -> returned $returned, now $after")
}

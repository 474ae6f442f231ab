package graft.operators

/** In-memory replay of the SRP near-dup contract (`llm_dedup_embedding`,
  * `llm_dedup_bow_cosine`) for the dedup value specs: the same ±1 planes
  * ([[Hashing.planeSign]]), sign bits from the sequential [[Hashing.dotSeq]]
  * and exact [[Hashing.cosineSeq]] verify, with no Spark in the loop.
  */
object SrpReplay {

  /** The hashed bag-of-bigrams vector [[Dedup.bowVecKernel]] builds. */
  def bowVec(text: String): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val w = text.split(" ", -1)
    val v = new Array[Double](Dedup.BowDims)
    for (i <- 0 until w.length - 1)
      v((Hashing.md5hash56Jvm(md, w(i) + " " + w(i + 1)) %
        Dedup.BowDims).toInt) += 1.0
    v
  }

  /** (a, b, cos) for every a < b sharing a (table, bucket) whose cosine
    * is at least `minCos`.
    */
  def pairs(vecs: Seq[(Long, Array[Double])], tables: Int, bits: Int,
      minCos: Double): Set[(Long, Long, Double)] = {
    val dims = vecs.head._2.length
    val planes = Array.tabulate(tables, bits)((t, p) =>
      Array.tabulate(dims)(Hashing.planeSign(t, p, _)))
    val byId = vecs.toMap
    vecs.flatMap { case (id, e) =>
      planes.indices.map { t =>
        val bkt = planes(t).indices.foldLeft(0L) { (b, p) =>
          if (Hashing.dotSeq(e, planes(t)(p)) > 0) b | (1L << p) else b
        }
        (t, bkt) -> id
      }
    }.groupBy(_._1).values.flatMap { g =>
      val ids = g.map(_._2).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet[(Long, Long)].map { case (a, b) =>
      (a, b, Hashing.cosineSeq(byId(a), byId(b)))
    }.filter(_._3 >= minCos)
  }
}

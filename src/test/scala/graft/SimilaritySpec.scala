package graft

import graft.operators.Similarity

/** Similarity search vs an in-memory exact reference on sf0.001. */
class SimilaritySpec extends SparkSpecBase {

  private lazy val vecs: Map[Long, Array[Double]] =
    graft.Tables(spark, Sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) e")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  /** Sequential-order cosine — same op order as Hashing.cosine. */
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("brute-force top-k matches the exact in-memory ranking") {
    val got = Similarity.bruteForceTopK(spark, Sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
      .toMap
    val qids = vecs.keys.filter(_ < Similarity.NumQueries)
    assert(got.size == qids.size * Similarity.TopK)
    for (q <- qids) {
      val expect = vecs.toSeq.filter(_._1 != q)
        .map { case (n, e) => (n, cos(vecs(q), e)) }
        .sortBy { case (n, c) => (-c, n) }
        .take(Similarity.TopK)
      expect.zipWithIndex.foreach { case ((n, c), i) =>
        val (gn, gc) = got((q, i + 1))
        assert(gn == n, s"query $q rank ${i + 1}")
        assert(gc == c, s"query $q rank ${i + 1} cosine")
      }
    }
  }

  test("LSH top-k rows carry exact cosines and bounded ranks") {
    val rows = Similarity.lshTopK(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, n, c, rk) =
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"), r.getAs[Int]("rank"))
      assert(q < Similarity.NumQueries && n != q)
      assert(rk >= 1 && rk <= Similarity.TopK)
      assert(c == cos(vecs(q), vecs(n)), s"cosine mismatch for ($q,$n)")
    }
    // ranks are dense per query: 1..k without gaps
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ranks = rs.map(_.getInt(3)).sorted
      assert(ranks.toSeq == (1 to ranks.length).toSeq, s"query $q ranks")
    }
  }

  test("bounded-heap aggregate equals the window ranking and partial-aggregates") {
    val win = Similarity.bruteForceTopK(spark, Sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"), r.getAs[Int]("rank")))
      .toSet
    val df = Similarity.bruteForceTopKAgg(spark, Sf)
    val agg = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim"), r.getAs[Int]("rank")))
      .toSet
    assert(agg == win)
    // the whole point: the aggregate runs partial → final, so each map
    // task forwards at most k pairs per query into the shuffle
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk"), plan)
  }

  /** In-memory replay of [[Similarity.kmeansCentroids]]: nearest-cid
    * assignment (ties → lower cid), then per-dim means through the SAME
    * dsum arithmetic (Σ floor(x·10¹²) as an exact integer → double →
    * /10¹² → /n) so the refined centroids are bit-identical to the
    * Spark side's.
    */
  private def refinedCents(iters: Int): Seq[(Long, Array[Double])] = {
    var cents = vecs.filter(_._1 < Similarity.NumCentroids).toSeq.sortBy(_._1)
    for (_ <- 0 until iters) {
      val cs = cents
      val groups = vecs.toSeq.groupBy { case (_, e) =>
        cs.map { case (c, ce) => (c, cos(e, ce)) }
          .maxBy { case (c, s) => (s, -c) }._1
      }
      cents = cents.map { case (cid, prev) =>
        groups.get(cid) match {
          case Some(vs) =>
            (cid, Array.tabulate(prev.length) { d =>
              val s = vs.map(v => math.floor(v._2(d) * 1e12).toLong).sum
              s.toDouble / 1e12 / vs.size
            })
          case None => (cid, prev)
        }
      }
    }
    cents
  }

  test("IVF top-k scores only probed inverted lists, exactly") {
    val rows = Similarity.ivfTopK(spark, Sf).collect()
    assert(rows.nonEmpty)
    // replay the refined quantizer in-memory: assignment + probes
    val cents = refinedCents(Similarity.IvfKmeansIters)
    def nearest(e: Array[Double]): Long =
      cents.map { case (c, ce) => (c, cos(e, ce)) }
        .maxBy { case (c, s) => (s, -c) }._1
    val assign = vecs.map { case (id, e) => id -> nearest(e) }
    rows.foreach { r =>
      val (q, n, c, rk) =
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"), r.getAs[Int]("rank"))
      val probed = cents.map { case (cid, ce) => (cid, cos(vecs(q), ce)) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(Similarity.NumProbes).map(_._1).toSet
      assert(probed.contains(assign(n)),
        s"neighbor $n of query $q is outside the probed lists")
      assert(c == cos(vecs(q), vecs(n)) && rk <= Similarity.TopK)
    }
  }

  private def embDf = graft.Tables(spark, Sf, "embeddings")
    .selectExpr("vec_id", "cast(embedding as array<double>) as e")

  /** Quantizer objective: mean best-cosine over the corpus. */
  private def objective(cents: Array[(Long, Array[Double])]): Double =
    vecs.values.map(e => cents.map(c => cos(e, c._2)).max).sum / vecs.size

  test("recall report equals a recount of its own constituent queries") {
    val exact = Similarity.bruteForceTopK(spark, Sf)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val want = Map(
      "binary" -> pairs(Similarity.binaryTopK(spark, Sf)),
      "int8" -> pairs(Similarity.int8TopK(spark, Sf)),
      "ivf" -> pairs(Similarity.ivfTopK(spark, Sf)),
      "ivfpq" -> pairs(Similarity.ivfPqTopK(spark, Sf)),
      "lsh" -> pairs(Similarity.lshTopK(spark, Sf)),
      "pq" -> pairs(Similarity.pqTopK(spark, Sf)))
    val got = Similarity.simRecall(spark, Sf).collect()
      .map(r => r.getAs[String]("method") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall")))).toMap
    assert(got.keySet == Similarity.RecallMethods.toSet)
    got.foreach { case (m, (nExact, nHit, recall)) =>
      assert(nExact == exact.size.toLong, m)
      assert(nHit == (want(m) & exact).size.toLong, m)
      assert(recall == nHit.toDouble / nExact.toDouble, m)
      assert(recall >= 0.0 && recall <= 1.0, m)
    }
  }

  test("recall tallies release their exact top-k cut") {
    // each call cuts its exact pair set and releases it once the result
    // is forced; after the result itself is released, no new persisted
    // RDD of any width may remain
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "simRecall" -> (() => Similarity.simRecall(spark, Sf)),
      "matryoshka" -> (() => Similarity.matryoshka(spark, Sf)),
      "dedupRecall" -> (() => graft.operators.Dedup.dedupRecall(spark, Sf))
    ).foreach { case (name, call) =>
      call() // builds the session-cached approximate indexes
      val before = persisted
      val out = call()
      assert(out.count() > 0)
      graft.Materialize.release(out)
      val left = persisted -- before
      assert(left.isEmpty,
        s"$name left persisted RDDs ${left.mkString(", ")}")
      assert(out.columns.nonEmpty) // out stays reachable through the check
    }
  }

  test("kmeans quantizer: iters=0 is the sampled seed the oracle encodes") {
    val got = Similarity.kmeansCentroids(embDf, 0)
    val want = vecs.filter(_._1 < Similarity.NumCentroids).toSeq.sortBy(_._1)
    assert(got.map(_._1).toSeq == want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) => assert(g.sameElements(w)) }
  }

  test("kmeans quantizer: bit-identical centroids under any partitioning") {
    // both metrics of the one Lloyd trainer: the cosine coarse quantizer
    // and every L2 sub-quantizer of the PQ codebook
    def books(df: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansCentroids(df, 3) +: Similarity.pqCodebookOf(df)
    val a = books(embDf.repartition(7))
    val b = books(embDf.repartition(3))
    assert(a.length == 1 + Similarity.PqSubspaces && b.length == a.length)
    a.zip(b).zipWithIndex.foreach { case ((sa, sb), m) =>
      assert(sa.length == sb.length)
      sa.zip(sb).foreach { case ((ca, ea), (cb, eb)) =>
        assert(ca == cb)
        assert(ea.sameElements(eb),
          s"book $m centroid $ca differs across partitionings")
      }
    }
  }

  test("PQ: the cold codebook build runs one job per Lloyd step") {
    // one seed collect, then ONE grouped aggregation per step for all
    // PqSubspaces sub-quantizers together — not a loop per subspace
    SessionCache.invalidate(spark, Sf)
    val runs = sqlExecutions(Similarity.pqCodebook(spark, Sf))
    assert(runs.size <= 1 + Similarity.PqKmeansIters,
      s"${runs.size} SQL executions for a cold codebook build")
    // warm: served from the session cache, no job at all
    assert(sqlExecutions(Similarity.pqCodebook(spark, Sf)).isEmpty)
  }

  test("hard negatives: the exact top-k among different-label neighbors") {
    val labels = graft.Tables(spark, Sf, "embeddings")
      .selectExpr("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.hardNegatives(spark, Sf).collect()
    val got = rows.map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank")) -> (r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("neighbor_label"), r.getAs[Double]("cos_sim")))
      .toMap
    assert(got.size == rows.length)
    val qids = vecs.keys.filter(_ < Similarity.NumQueries).toSeq.sorted
    var want = 0
    for (q <- qids) {
      val expect = vecs.toSeq
        .filter { case (n, _) => n != q && labels(n) != labels(q) }
        .map { case (n, e) => (n, cos(vecs(q), e)) }
        .sortBy { case (n, c) => (-c, n) }
        .take(Similarity.TopK)
      want += expect.size
      expect.zipWithIndex.foreach { case ((n, c), i) =>
        assert(got((q, i + 1)) == ((n, labels(n), c)),
          s"query $q rank ${i + 1}")
      }
    }
    assert(rows.length == want)
  }

  test("cluster-balanced sample: caps dense clusters, keeps sparse whole") {
    import java.security.MessageDigest
    def md5hex(s: String) = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // brute-force reference: nearest-centroid assignment with the
    // iters=0 sampled quantizer, then the md5 per-cluster order
    val cents = Similarity.kmeansCentroids(embDf, 0)
    val assign = vecs.map { case (id, e) =>
      id -> cents.maxBy { case (cid, ce) => (cos(e, ce), -cid) }._1
    }
    val want = assign.groupBy(_._2).flatMap { case (cid, m) =>
      val ordered = m.keys.toSeq.sortBy(id => (md5hex(id.toString), id))
      ordered.zipWithIndex.collect {
        case (id, i) if i < Similarity.ClusterSampleCap =>
          (id, cid, m.size.toLong, i + 1L)
      }
    }.toSet
    val got = Similarity.sampleClusterOf(embDf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"), r.getAs[Long]("cluster_n"), r.getAs[Long]("rk")))
      .toSet
    assert(got == want)
    // per-cluster output is min(cluster_n, cap); sparse clusters whole
    got.groupBy(_._2).foreach { case (_, rows) =>
      val n = rows.head._3
      assert(rows.size == math.min(n, Similarity.ClusterSampleCap.toLong))
    }
    // deterministic under any partitioning
    val again = Similarity.sampleClusterOf(embDf.repartition(7)).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"), r.getAs[Long]("cluster_n"), r.getAs[Long]("rk")))
      .toSet
    assert(again == got)
  }

  test("kmeans quantizer: Lloyd steps improve the assignment objective") {
    val o0 = objective(Similarity.kmeansCentroids(embDf, 0))
    val o3 = objective(Similarity.kmeansCentroids(embDf, 3))
    assert(o3 >= o0, s"objective regressed: $o0 -> $o3")
    // and the refined quantizer drives the same IVF plan end-to-end
    val rows = Similarity.ivfTopKOf(embDf, Similarity.NumQueries, 2).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) == cos(vecs(r.getLong(0)), vecs(r.getLong(1))))
      assert(r.getInt(3) <= Similarity.TopK)
    }
  }

  /** Sequential squared-L2, same accumulation order as the kernel. */
  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  test("PQ: scores are exact dots against the optimal reconstruction") {
    val book = Similarity.pqCodebook(spark, Sf)
    assert(book.length == Similarity.PqSubspaces)
    book.foreach(sub => assert(sub.length == Similarity.PqCodes))
    // in-memory reconstruction: per subspace the L2-nearest code
    // (first-wins tie, code ascending — the kernel's contract)
    def recon(e: Array[Double]): Array[Double] = {
      val r = new Array[Double](e.length)
      for (m <- 0 until Similarity.PqSubspaces) {
        val sub = e.slice(m * Similarity.PqSubDim,
          (m + 1) * Similarity.PqSubDim)
        val best = book(m).minBy { case (code, ce) =>
          (l2sq(sub, ce), code)
        }
        System.arraycopy(best._2, 0, r, m * Similarity.PqSubDim,
          Similarity.PqSubDim)
      }
      r
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val rows = Similarity.pqTopK(spark, Sf).collect()
    assert(rows.nonEmpty)
    val reconOf = vecs.map { case (id, e) => id -> recon(e) }
    rows.foreach { r =>
      val (q, n, pd, rk) =
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("pq_dot"), r.getAs[Int]("rank"))
      assert(q < Similarity.NumQueries && n != q && rk <= Similarity.TopK)
      assert(pd == dot(vecs(q), reconOf(n)), s"pq_dot mismatch ($q,$n)")
    }
    // and the full ranking matches the in-memory ADC ranking
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    for (q <- vecs.keys.filter(_ < Similarity.NumQueries)) {
      val expect = vecs.keys.toSeq.filter(_ != q)
        .map(n => (n, dot(vecs(q), reconOf(n))))
        .sortBy { case (n, d) => (-d, n) }
        .take(Similarity.TopK)
      expect.zipWithIndex.foreach { case ((n, _), i) =>
        assert(got((q, i + 1)) == n, s"query $q rank ${i + 1}")
      }
    }
  }

  test("IVF+PQ: ADC ranking restricted to the probed inverted lists") {
    // in-memory replay of BOTH trained index layers from their
    // session-cached artifacts, then the composed semantics: candidates
    // from the query's probed lists only, ranked by the exact
    // reconstruction dot
    val cents = refinedCents(Similarity.IvfKmeansIters)
    val book = Similarity.pqCodebook(spark, Sf)
    def recon(e: Array[Double]): Array[Double] = {
      val r = new Array[Double](e.length)
      for (m <- 0 until Similarity.PqSubspaces) {
        val sub = e.slice(m * Similarity.PqSubDim,
          (m + 1) * Similarity.PqSubDim)
        val best = book(m).minBy { case (code, ce) => (l2sq(sub, ce), code) }
        System.arraycopy(best._2, 0, r, m * Similarity.PqSubDim,
          Similarity.PqSubDim)
      }
      r
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val assign = vecs.map { case (id, e) =>
      id -> cents.map { case (c, ce) => (c, cos(e, ce)) }
        .maxBy { case (c, s) => (s, -c) }._1
    }
    val reconOf = vecs.map { case (id, e) => id -> recon(e) }
    val rows = Similarity.ivfPqTopK(spark, Sf).collect()
    assert(rows.nonEmpty)
    val got = rows.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> (r.getAs[Long]("neighbor_id"), r.getAs[Double]("pq_dot"))).toMap
    for (q <- vecs.keys.filter(_ < Similarity.NumQueries)) {
      val probed = cents.map { case (cid, ce) => (cid, cos(vecs(q), ce)) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(Similarity.NumProbes).map(_._1).toSet
      val expect = vecs.keys.toSeq
        .filter(n => n != q && probed.contains(assign(n)))
        .map(n => (n, dot(vecs(q), reconOf(n))))
        .sortBy { case (n, d) => (-d, n) }
        .take(Similarity.TopK)
      expect.zipWithIndex.foreach { case ((n, d), i) =>
        val (gn, gd) = got((q, i + 1))
        assert(gn == n, s"query $q rank ${i + 1}")
        assert(gd == d, s"query $q rank ${i + 1} pq_dot")
      }
    }
    // every returned neighbor sits in a probed list of its query
    rows.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      val probed = cents.map { case (cid, ce) => (cid, cos(vecs(q), ce)) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(Similarity.NumProbes).map(_._1).toSet
      assert(probed.contains(assign(n)),
        s"neighbor $n of query $q outside the probed lists")
    }
  }

  test("PCA: projections replay in-memory; bit-stable under partitioning") {
    // the two trained artifacts from the session cache path
    val rows = Similarity.embPca(spark, Sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pc1")).toMap
    assert(rows.keySet == vecs.keySet)
    // in-memory replay: DECIMAL-stable sums via the same quantization
    def dsum(xs: Iterable[Double]): Double =
      xs.map(x => BigDecimal(math.floor(x * 1e12))).sum.toDouble / 1e12
    val n = 64
    val ids = vecs.keys.toSeq.sorted
    val mean = (0 until n).map(i => dsum(ids.map(vecs(_)(i)))
      / ids.size.toDouble).toArray
    val cov = Array.tabulate(n, n)((i, j) =>
      dsum(ids.map(id => (vecs(id)(i) - mean(i)) * (vecs(id)(j) - mean(j)))))
    var x = Array.fill(n)(0.125)
    for (_ <- 1 to Similarity.PcaIters) {
      val y = (0 until n).map { i =>
        var acc = 0.0; var j = 0
        while (j < n) { acc += cov(i)(j) * x(j); j += 1 }
        acc
      }.toArray
      var nrm = 0.0; var i = 0
      while (i < n) { nrm += y(i) * y(i); i += 1 }
      nrm = math.sqrt(nrm)
      x = y.map(_ / nrm)
    }
    ids.foreach { id =>
      var acc = 0.0; var i = 0
      while (i < n) { acc += (vecs(id)(i) - mean(i)) * x(i); i += 1 }
      assert(rows(id) == acc, s"pc1 mismatch for vec $id")
    }
    // the direction is meaningful: unit norm, and the projections carry
    // more variance than any single coordinate axis does
    assert(math.abs(x.map(v => v * v).sum - 1.0) < 1e-9)
    val pcVar = {
      val vs = ids.map(rows(_))
      val mu = vs.sum / vs.size
      vs.map(v => (v - mu) * (v - mu)).sum
    }
    val axisVar = (0 until n).map(i => cov(i)(i)).max
    assert(pcVar >= axisVar * 0.999,
      s"pc1 variance $pcVar below best axis $axisVar")
    // partition-count independence of the whole train+project pipeline
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.embPcaOf(df).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("pc1"))).toSet
    assert(run(embDf.repartition(7)) == run(embDf.repartition(2)))
  }

  test("ABTT removes exactly the pc1 component, orthogonally") {
    val pc1 = Similarity.embPca(spark, Sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pc1")).toMap
    val w = Similarity.embAbtt(spark, Sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dim")) -> r.getAs[Double]("w")).toMap
    assert(w.size == vecs.size * 64)
    // reconstruct the direction-independent invariant: for every vector
    // the processed w plus pc1·v must equal the centered original; we
    // recover v and the mean from two vectors' rows (they are shared)
    // — instead check the defining property directly per cell below via
    // the projection of w onto v being ~0 (orthogonality)
    val ids = vecs.keys.toSeq.sorted
    // recover v up to the cache: v_i = (cx_i - w_i) / pc1 for any vector
    // with pc1 != 0; average cancellation not needed — pick the largest
    val ref = ids.maxBy(id => math.abs(pc1(id)))
    // centered originals need the mean: m_i = mean of coordinates
    val n = 64
    def dsum(xs: Iterable[Double]): Double =
      xs.map(x => BigDecimal(math.floor(x * 1e12))).sum.toDouble / 1e12
    val mean = (0 until n).map(i => dsum(ids.map(vecs(_)(i)))
      / ids.size.toDouble).toArray
    val v = (0 until n).map { i =>
      ((vecs(ref)(i) - mean(i)) - w((ref, i + 1L))) / pc1(ref)
    }.toArray
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-6, "v not unit")
    // every vector: w == centered − pc1·v, and w ⟂ v
    ids.foreach { id =>
      var dot = 0.0
      (0 until n).foreach { i =>
        val cx = vecs(id)(i) - mean(i)
        val wi = w((id, i + 1L))
        assert(math.abs(wi - (cx - pc1(id) * v(i))) < 1e-9, s"$id/$i")
        dot += wi * v(i)
      }
      assert(math.abs(dot) < 1e-6, s"vec $id not orthogonal to v: $dot")
    }
  }

  test("ABTT eval recounts from the processed cells and raw ranking") {
    val labels = graft.Tables(spark, Sf, "embeddings")
      .selectExpr("vec_id", "cast(label as long) label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // processed vectors rebuilt from the public per-cell output
    val wcells = Similarity.embAbtt(spark, Sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dim"), r.getAs[Double]("w")))
    val wvecs = wcells.groupBy(_._1).map { case (id, cs) =>
      id -> cs.sortBy(_._2).map(_._3).toArray
    }
    def topPairs(vs: Map[Long, Array[Double]]) = {
      val qs = vs.keys.filter(_ < Similarity.NumQueries)
      qs.flatMap { q =>
        vs.toSeq.filter(_._1 != q)
          .map { case (n, e) => (n, cos(vs(q), e)) }
          .sortBy { case (n, c) => (-c, n) }
          .take(Similarity.TopK)
          .map { case (n, _) => (q, n) }
      }.toSet
    }
    val expect = Map("raw" -> topPairs(vecs), "abtt" -> topPairs(wvecs))
    val got = Similarity.abttEval(spark, Sf).collect()
      .map(r => r.getAs[String]("method") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_same_label"), r.getAs[Double]("agreement")))).toMap
    assert(got.keySet == Set("raw", "abtt"))
    got.foreach { case (m, (nPairs, nSame, agree)) =>
      val pairs = expect(m)
      val same = pairs.count { case (q, n) => labels(q) == labels(n) }
      assert(nPairs == pairs.size.toLong, m)
      assert(nSame == same.toLong, m)
      assert(agree == same.toDouble / pairs.size.toDouble, m)
    }
  }

  test("binary top-k matches the in-memory shortlist-then-rerank replay") {
    // replay: pack sign bits (two 32-bit words), Hamming-shortlist
    // BinShortlist, exact-cosine re-rank to TopK — same tie-breaks
    def sigOf(e: Array[Double]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      var i = 0
      while (i < 32) { if (e(i) > 0.0) lo |= 1L << i; i += 1 }
      while (i < 64) { if (e(i) > 0.0) hi |= 1L << (i - 32); i += 1 }
      (lo, hi)
    }
    val sigs = vecs.map { case (id, e) => id -> sigOf(e) }
    val got = Similarity.binaryTopK(spark, Sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Long]("hamming"), r.getAs[Double]("cos_sim"))))
      .toMap
    val qids = vecs.keys.filter(_ < Similarity.NumQueries)
    assert(got.size == qids.size * Similarity.TopK)
    for (q <- qids) {
      val (qlo, qhi) = sigs(q)
      val short = vecs.keys.filter(_ != q).toSeq
        .map { n =>
          val (lo, hi) = sigs(n)
          (n, (java.lang.Long.bitCount(lo ^ qlo)
            + java.lang.Long.bitCount(hi ^ qhi)).toLong)
        }
        .sortBy { case (n, h) => (h, n) }
        .take(Similarity.BinShortlist)
      val expect = short
        .map { case (n, h) => (n, h, cos(vecs(q), vecs(n))) }
        .sortBy { case (n, _, c) => (-c, n) }
        .take(Similarity.TopK)
      expect.zipWithIndex.foreach { case ((n, h, c), i) =>
        val (gn, gh, gc) = got((q, i + 1))
        assert(gn == n, s"query $q rank ${i + 1}")
        assert(gh == h, s"query $q rank ${i + 1} hamming")
        assert(gc == c, s"query $q rank ${i + 1} cosine")
      }
    }
  }

  test("PQ: bit-identical output under any partitioning") {
    val embDf = graft.Tables(spark, Sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) e")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopKOf(df, Similarity.NumQueries).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("pq_dot"), r.getAs[Int]("rank")))
        .toSet
    assert(run(embDf.repartition(7)) == run(embDf.repartition(2)))
  }

  test("incremental ANN: neighbors only from the index side, " +
    "stable under repartition") {
    val rows = Similarity.simIncremental(spark, Sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"), r.getAs[Int]("rank")))
    assert(rows.nonEmpty)
    // queries are the arriving odd-id batch; every neighbor comes from
    // the even-id corpus the index was built on
    rows.foreach { case (q, n, c, rk) =>
      assert(q % 2 == 1 && n % 2 == 0)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(rk >= 1 && rk <= Similarity.TopK)
    }
    // ranks contiguous from 1 per query
    rows.groupBy(_._1).foreach { case (_, xs) =>
      assert(xs.map(_._4).sorted.toSeq == (1 to xs.length).toSeq)
    }
    // deterministic under input partitioning
    val all = Tables(spark, Sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) e")
    def run(p: Int) = Similarity.simIncrementalOf(
        all.where("vec_id % 2 = 0").repartition(p),
        all.where(
          s"vec_id % 2 = 1 AND vec_id < ${2L * Similarity.NumQueries}")
          .repartition(p),
        Similarity.IvfKmeansIters)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"), r.getAs[Int]("rank")))
      .toSet
    assert(run(3) == run(11))
  }

  test("embDrift replays the parity-split DECIMAL-stable means") {
    val vecs = Tables(spark, Sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) e")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val dims = vecs.head._2.length
    def dmean(xs: Seq[Double]): Double = {
      val s = xs.map(v => BigInt(math.floor(v * 1e12).toLong)).sum
      s.toDouble / 1e12 / xs.size
    }
    val want = (0 until dims).map { d =>
      val a = vecs.filter(_._1 % 2 == 0).map(_._2(d)).toSeq
      val b = vecs.filter(_._1 % 2 != 0).map(_._2(d)).toSeq
      (d.toLong, a.size.toLong, b.size.toLong,
        dmean(a), dmean(b), dmean(a) - dmean(b))
    }.toSet
    val got = Similarity.embDrift(spark, Sf).collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("mean_a"), r.getAs[Double]("mean_b"), r.getAs[Double]("diff"))).toSet
    assert(got == want)
    // partition independence — the dsum contract
    val g2 = Similarity.embDriftOf(
        Tables(spark, Sf, "embeddings")
          .select("vec_id", "embedding").repartition(13))
      .collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("mean_a"), r.getAs[Double]("mean_b"), r.getAs[Double]("diff"))).toSet
    assert(g2 == want)
  }

  test("cluster purity: totals reconcile, corpus row is the weighted sum") {
    val rows = graft.operators.Similarity.clusterPurity(spark, Sf)
      .collect()
    val (cells, tot) = rows.partition(_.getAs[Long]("cid") >= 0)
    assert(tot.length == 1 && cells.nonEmpty)
    val t = tot.head
    assert(t.getAs[Long]("n_members") ==
      cells.map(_.getAs[Long]("n_members")).sum)
    assert(t.getAs[Long]("n_top") == cells.map(_.getAs[Long]("n_top")).sum)
    cells.foreach { r =>
      assert(r.getAs[Long]("n_top") >= 1
        && r.getAs[Long]("n_top") <= r.getAs[Long]("n_members"))
      assert(r.getAs[Double]("purity") ==
        r.getAs[Long]("n_top").toDouble
          / r.getAs[Long]("n_members").toDouble)
    }
    // purity must beat the 1/|labels| random floor on labeled fixtures
    assert(t.getAs[Double]("purity") > 0.1)
  }

  test("matryoshka: identity at full width, curve monotone on fixture") {
    val rows = Similarity.matryoshka(spark, Sf).collect()
      .map(r => (r.getAs[Long]("dims"), r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"),
        r.getAs[Double]("recall"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Similarity.MrlBudgets.map(_.toLong))
    // full width is the exact ranking itself
    assert(rows.last._4 == 1.0 && rows.last._3 == rows.last._2)
    // more dimensions never hurt on the fixed fixture
    assert(rows.map(_._4).sliding(2).forall(p =>
      p.length < 2 || p(0) <= p(1)))
    rows.foreach(r => assert(r._4 >= 0.0 && r._4 <= 1.0))
  }

  test("mmr: step 1 is pure relevance, scores fall, redundancy punished") {
    val fx = Similarity.queries("llm_sim_mmr_topk")(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(4)))
    val byQ = fx.groupBy(_._1)
    // every query emits exactly MmrK distinct picks
    byQ.values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (1L to Similarity.MmrK).toSeq)
      assert(g.map(_._3).distinct.length == g.length)
      // the greedy objective is non-increasing FROM STEP 2 ON (the
      // penalty max grows over a superset); step 1 carries no penalty
      // term, so an anti-correlated pair (negative pdot) can lift
      // step 2 above it — observed on the fixture, correct behavior
      val byStep = g.sortBy(_._2).map(_._4).drop(1)
      assert(byStep.sliding(2).forall(p =>
        p.length < 2 || p(0) >= p(1)))
    }
    // step 1 == the int8 rank-1 neighbor (pure relevance seeds MMR)
    val top1 = Similarity.queries("llm_sim_int8_topk")(spark, Sf)
      .where("rank = 1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byQ.foreach { case (q, g) =>
      assert(g.find(_._2 == 1L).get._3 == top1(q), s"q=$q")
    }
    // planted redundancy: five magnitude-jittered copies of ONE
    // direction half-aligned with the query (mutual dot ≈ 0.97, well
    // above their ≈ 0.7 relevance), one weaker pure-query-direction
    // vector, one orthogonal — relevance-only fills with the clones,
    // MMR must break out of the cluster
    val s2 = spark; import s2.implicits._
    val dim = 64
    def base(at: Seq[(Int, Double)]): Array[Double] = {
      val a = Array.fill(dim)(0.0); at.foreach { case (i, v) => a(i) = v }
      a
    }
    val u = 1.0 / math.sqrt(2.0)
    val rows = ((0L, base(Seq(0 -> 1.0))) +:        // the query e0
      (1 to 5).map(i => (i.toLong,
        base(Seq(0 -> (1.0 - 0.01 * i) * u, 1 -> (1.0 - 0.01 * i) * u))))
      :+ (6L, base(Seq(0 -> 0.6)))                  // weaker, on-query
      :+ (7L, base(Seq(7 -> 0.5)))                  // orthogonal
      ).toDF("vec_id", "embedding")
    val mmr = Similarity.mmrTopKOf(rows, 1L).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[Long]("neighbor_id"))).sortBy(_._1)
    val plainTop = Similarity.int8TopKOf(rows, 1L).collect()
      .map(_.getAs[Long]("neighbor_id")).toSet
    // relevance-only top-5 is all clones; MMR keeps ≤ 3 and surfaces
    // both distinct directions
    assert(plainTop == Set(1L, 2L, 3L, 4L, 5L), plainTop)
    assert(mmr.count(p => p._2 >= 1L && p._2 <= 5L) <= 3, mmr.toSeq)
    assert(mmr.exists(_._2 == 6L) && mmr.exists(_._2 == 7L), mmr.toSeq)
  }

  test("int8 serving entries share the session index, never re-score") {
    import org.apache.spark.sql.execution.RDDScanExec
    // pre-AQE sparkPlan: AdaptiveSparkPlanExec is opaque to collect()
    def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.sparkPlan
        .collect { case r: RDDScanExec => r.rdd.id }.toSet
    Similarity.int8TopK(spark, Sf).collect() // warm the index cache
    val topk = Similarity.int8TopK(spark, Sf)
    // the corpus-scale quantize+score kernel lives BEHIND the session
    // checkpoint: a per-call plan that re-plans it would carry the
    // typed SerializeFromObject/mapPartitions chain instead of reading
    // the checkpointed pair table
    val plan = topk.queryExecution.sparkPlan.toString
    assert(!plan.contains("SerializeFromObject"),
      s"llm_sim_int8_topk re-plans the scoring kernel per call:\n$plan")
    assert(leaves(topk).nonEmpty, "int8 top-k reads no checkpointed index")
    // MMR serves from the SAME index tables (pool + quantized corpus):
    // mmrTopK executes eagerly, so assert through the shared-RDD seam —
    // a second int8TopK plan must reuse the identical checkpoint RDD
    val again = Similarity.int8TopK(spark, Sf)
    assert(leaves(topk) == leaves(again),
      "repeated calls rebuilt the index (fresh RDD ids)")
  }
}

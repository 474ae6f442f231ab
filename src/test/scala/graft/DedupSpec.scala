package graft

import java.security.MessageDigest

import graft.operators.{Dedup, Multimodal}

/** Dedup operators vs in-memory brute force on the sf0.001 fixture —
  * an independent dataset from the sf0.01 oracle gate, so LSH recall is
  * demonstrated on two corpora. Plus the multimodal decode seam.
  */
class DedupSpec extends SparkSpecBase {

  private lazy val docs: Seq[(Long, String)] =
    graft.Tables(spark, Sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def shingleSet(text: String, n: Int): Set[String] = {
    val t = text.split(" ")
    if (t.length >= n) t.sliding(n).map(_.mkString(" ")).toSet
    else Set(text)
  }

  private def bruteJaccard(n: Int, minJ: Double): Map[(Long, Long), Double] = {
    val sh = docs.map { case (id, tx) => (id, shingleSet(tx, n)) }
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter).toDouble
      if j >= minJ
    } yield (a, b) -> j).toMap
  }

  test("exact dedup partitions the corpus (copies sum to total)") {
    val rows = Dedup.exact(spark, Sf).collect()
    assert(rows.map(_.getAs[Long]("n_copies")).sum == docs.size)
    assert(rows.forall(r => r.getAs[Long]("n_copies") >= 1))
  }

  test("minhash-LSH reproduces brute-force 3-gram Jaccard >= 0.8 exactly") {
    val got = Dedup.minhashLsh(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    val want = bruteJaccard(3, Dedup.JaccardMinhash)
    assert(got.keySet == want.keySet,
      s"missed=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    got.foreach { case (k, j) => assert(j == want(k), s"pair $k") }
  }

  test("incremental minhash finds exactly the cross-set near-dup pairs") {
    val s = spark; import s.implicits._
    val half = docs.size / 2
    val newDocs = docs.filter(_._1 < half).toDF("doc_id", "text")
    val corpus = docs.filter(_._1 >= half).toDF("doc_id", "text")
    val got = Dedup.minhashLshAgainst(newDocs, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force restricted to (new, corpus) pairs
    val sh = docs.map { case (id, tx) => (id, shingleSet(tx, 3)) }.toMap
    val want = (for {
      a <- sh.keys if a < half; b <- sh.keys if b >= half
      inter = (sh(a) & sh(b)).size
      j = inter.toDouble / (sh(a).size + sh(b).size - inter).toDouble
      if j >= Dedup.JaccardMinhash
    } yield (a, b) -> j).toMap
    assert(got == want,
      s"missed=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    assert(got.nonEmpty) // fixture plants cross-half near-dups
  }

  test("ngram inverted-index reproduces brute-force 4-gram Jaccard >= 0.7") {
    val got = Dedup.ngramJaccard(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(got == bruteJaccard(4, Dedup.JaccardNgram))
  }

  test("incremental fixture split (doc_id % 10) finds planted cross-set pairs") {
    val got = Dedup.minhashIncremental(spark, Sf).collect()
      .map(r => (r.getAs[Long]("new_doc_id"), r.getAs[Long]("corpus_doc_id")) -> r.getAs[Double]("jaccard")).toMap
    val sh = docs.map { case (id, tx) => (id, shingleSet(tx, 3)) }.toMap
    val want = (for {
      a <- sh.keys if a % 10 == 0; b <- sh.keys if b % 10 != 0
      inter = (sh(a) & sh(b)).size
      j = inter.toDouble / (sh(a).size + sh(b).size - inter).toDouble
      if j >= Dedup.JaccardMinhash
    } yield (a, b) -> j).toMap
    assert(got == want,
      s"missed=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    assert(got.nonEmpty) // fixture plants cross-decade near-dups
  }

  test("stop-shingle guard bounds candidate volume under a planted hot 4-gram") {
    val s = spark; import s.implicits._
    // 100 docs, unique except one boilerplate tail 4-gram shared by ALL,
    // plus one planted true near-dup pair (ids 100, 101).
    val boiler = "terms of service apply"
    val base = (0 until 100).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e $boiler"))
    // Planted true near-dup: 22 shared z-tokens, last one differs →
    // 19 of 23 4-gram shingles shared, J = 19/27 ≈ 0.704 ≥ 0.7.
    val zs = (1 to 21).map("z" + _).mkString(" ")
    val nearDup = Seq(
      (100L, s"$zs z22 $boiler"),
      (101L, s"$zs z22x $boiler"))
    val corpus = (base ++ nearDup).toDF("doc_id", "text")
    val post = Dedup.ngramPostings(Dedup.shingled(corpus, 4))
      .localCheckpoint()
    // Unguarded: the hot shingle alone yields all C(102,2) pairs.
    assert(Dedup.ngramCandidates(post, Int.MaxValue).count() == 102L * 101 / 2)
    // Guarded (boilerplate df=102 > 10 is hot): the hot shingle emits
    // only its 101 STAR pairs (posting-min doc 0 vs each other); the
    // planted pair rides its cold z-shingles — candidate volume
    // collapses from quadratic to linear.
    val guarded = Dedup.ngramCandidates(post, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded ==
      (1L to 101L).map(j => (0L, j)).toSet + ((100L, 101L)))
    // Output is identical with and without the guard: boilerplate-only
    // pairs sit far below the Jaccard threshold anyway, and the verify
    // step scores FULL shingle sets, so reported values stay exact.
    def out(stopDf: Int) = Dedup.ngramJaccardOf(corpus, stopDf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    assert(out(10) == out(Int.MaxValue))
    assert(out(10).map(t => (t._1, t._2)) == Set((100L, 101L)))
    assert(out(10).head._3 == 19.0 / 27.0)
  }

  test("prefix filtering: lossless vs full index, smaller candidates") {
    val s = spark; import s.implicits._
    // same planted corpus as the stop-shingle test: one all-docs
    // boilerplate 4-gram + one true near-dup pair
    val boiler = "terms of service apply"
    val base = (0 until 100).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e $boiler"))
    val zs = (1 to 21).map("z" + _).mkString(" ")
    val corpus = (base ++ Seq(
      (100L, s"$zs z22 $boiler"),
      (101L, s"$zs z22x $boiler"))).toDF("doc_id", "text")
    val post = Dedup.ngramPostings(Dedup.shingled(corpus, 4))
      .localCheckpoint()
    // lossless: the prefix path reports exactly the full-index pairs
    val full = Dedup.ngramJaccardOf(corpus, Int.MaxValue).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    val pref = Dedup.ngramJaccardPrefixOf(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    assert(pref == full)
    assert(pref.map(t => (t._1, t._2)) == Set((100L, 101L)))
    // the candidate index shrinks: frequency-ascending prefixes hold
    // each doc's RAREST shingles, so the df=102 boilerplate shingle
    // never enters the index — quadratic blowup gone without any
    // stop-split, and volume is strictly below the unguarded count
    val nCand = Dedup.prefixCandidates(post,
      Dedup.JaccardNgramNum, Dedup.JaccardNgramDen).count()
    assert(nCand < 102L * 101 / 2, s"prefix index did not prune: $nCand")
    assert(nCand >= 1L)
  }

  test("mass-duplicate cluster survives the hot-shingle guard via star pairs") {
    val s = spark; import s.implicits._
    // 100 copies of one template: EVERY shared shingle is hot, the case
    // where dropping hot shingles outright would silently lose the core
    // dedup target. Star candidates keep the cluster connected with
    // diameter 2 (clustersOf converges in O(1) rounds, not O(m)).
    val corpus = (0 until 100).map(i =>
      (i.toLong, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardOf(corpus, stopDf = 10)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 99 && got.forall(_._3 == 1.0)) // the star, exact
    assert(got.forall(_._1 == 0L)) // all pairs anchor on the representative
    val cl = Dedup.clustersOf(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cl.size == 100 && cl.values.forall(_ == 0L)) // one full cluster
  }

  test("dedup recall audit: borderline pair separates the methods") {
    val s = spark; import s.implicits._
    // 100-word doc + a copy with 4 isolated single-word substitutions
    // (positions spread > 4 apart): 4-gram Jaccard = 81/113 ≈ 0.717 — in
    // the reference (≥ 0.7) — while 3-gram Jaccard = 86/110 ≈ 0.782 is
    // below the minhash verify threshold (0.8), so minhash MUST miss it
    val a = (0 until 100).map(i => s"w$i")
    val b = a.updated(10, "x1").updated(30, "x2")
      .updated(55, "x3").updated(80, "x4")
    val corpus = Seq(
      (1L, (0 until 50).map(i => s"p$i").mkString(" ")),
      (2L, (0 until 50).map(i => s"p$i").mkString(" ")), // exact twin
      (3L, a.mkString(" ")),
      (4L, b.mkString(" ")),
      (5L, (0 until 30).map(i => s"q$i").mkString(" ")),
      (6L, (0 until 30).map(i => s"r$i").mkString(" "))
    ).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ref = pairSet(Dedup.ngramJaccardOf(corpus))
    assert(ref.contains((3L, 4L)), "borderline pair must be in the reference")
    val methods = Map(
      "bow" -> pairSet(Dedup.bowCosineOf(corpus)),
      "minhash" -> pairSet(Dedup.minhashLshOf(corpus)),
      "simhash" -> pairSet(Dedup.simhashPairsOf(corpus)))
    assert(!methods("minhash").contains((3L, 4L)),
      "minhash @ J3>=0.8 must reject the 0.782 pair")
    val got = Dedup.dedupRecallOf(corpus).collect()
      .map(r => r.getAs[String]("method") -> ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_method"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("recall"), r.getAs[Double]("precision")))).toMap
    assert(got.keySet == Dedup.DedupRecallMethods.toSet)
    got.foreach { case (m, (nRef, nMethod, nHit, recall, precision)) =>
      val hits = (methods(m) & ref).size.toLong
      assert(nRef == ref.size.toLong, m)
      assert(nMethod == methods(m).size.toLong, m)
      assert(nHit == hits, m)
      assert(recall == hits.toDouble / ref.size.toDouble, m)
      assert(precision == (if (methods(m).isEmpty) 0.0
        else hits.toDouble / methods(m).size.toDouble), m)
    }
    // the audit separates the methods on this corpus
    assert(got("minhash")._4 < 1.0, "minhash recall must drop")
  }

  test("near-dup clustering: min-label components over chain/clique/pair") {
    val s = spark; import s.implicits._
    // chain 1-2-3-4 (transitive dups where (1,4) never paired directly),
    // clique 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clustersOf(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // fixture components agree with a driver-side union-find
    val fixPairs = Dedup.minhashLsh(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    fixPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val gotFix = Dedup.clusters(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(gotFix == want)
    assert(gotFix.values.toSet.size < gotFix.size) // non-trivial clusters
  }

  test("keep-best picks the longest member, ties to the smallest doc_id") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "a b c"), (2L, "a b c d e"), (3L, "x"),   // cluster 1: 2 wins (longest)
      (10L, "p q"), (11L, "p q"),                     // cluster 10: tie → 10
      (20L, "lone doc here")                          // cluster 20: singleton
    ).toDF("doc_id", "text")
    val clusterTable = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L)).toDF("doc_id", "cluster_id")
    val got = Dedup.keepBestOf(corpus, clusterTable).collect()
      .map(r => (r.getAs[Long]("cluster_id"), (r.getAs[Long]("rep_doc_id"), r.getAs[Long]("rep_tokens"), r.getAs[Long]("n_members"))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 5L, 3L)),
      10L -> ((10L, 2L, 2L)),
      20L -> ((20L, 3L, 1L))))
  }

  test("semantic dedup: within-cluster pairs above threshold, brute force") {
    import graft.operators.Similarity
    val vecs = graft.Tables(spark, Sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) e")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = vecs.filter(_._1 < Similarity.NumCentroids).sortBy(_._1)
    // strict > replicates the tie-toward-lower-cid assignment
    def nearest(e: Array[Double]): Long = {
      var best = Double.NegativeInfinity; var bestC = 0L
      cents.foreach { case (cid, ce) =>
        val c = cos(e, ce); if (c > best) { best = c; bestC = cid }
      }
      bestC
    }
    val want = vecs.groupBy(v => nearest(v._2)).flatMap { case (cid, vs) =>
      (for {
        a <- vs.toSeq; b <- vs.toSeq if a._1 < b._1
        c = cos(a._2, b._2) if c >= Dedup.CosMin
      } yield (cid, a._1, b._1, c))
    }.toSet
    val got = Dedup.semantic(spark, Sf).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"), r.getAs[Double]("cos_sim")))
      .toSet
    assert(got == want)
    assert(got.nonEmpty, "fixture should contain semantic near-dups")
    // candidates never cross clusters: BOTH members of every emitted
    // pair were assigned to the pair's cluster id
    val byId = vecs.toMap
    got.foreach { case (cid, a, b, _) =>
      assert(nearest(byId(a)) == cid && nearest(byId(b)) == cid,
        s"pair ($a,$b) crosses clusters")
    }
  }

  test("index cache invalidation: rebuilt entries reproduce the answer") {
    import graft.operators.{Apriori, Curation, Quality, Similarity}
    // one answer per cache family the dir's entries fill: the dedup
    // bands, the apriori baskets/supports, the drift report, the probe,
    // the IVF centroids, the int8 serving index (quant + scored pairs +
    // MMR pool) and the coverage incidence — one dir-scoped call drops
    // them all, and every rebuilt entry reproduces its answer (released
    // checkpoints must not leave a consumer reading freed blocks)
    def answers(): Seq[Set[Seq[Any]]] = Seq(
      Dedup.minhashLsh(spark, Sf), Apriori.freqItemsets(spark, Sf),
      Curation.bpeDrift(spark, Sf).select("step", "same"),
      Quality.qualityProbe(spark, Sf).select("doc_id", "pred"),
      Similarity.ivfTopK(spark, Sf).select("query_id", "neighbor_id"),
      Similarity.mmrTopK(spark, Sf)
        .select("query_id", "step", "neighbor_id"),
      Curation.coverageSelect(spark, Sf).select("step", "doc_id", "gain")
    ).map(_.collect().map(_.toSeq).toSet)
    val before = answers()
    assert(before.forall(_.nonEmpty))
    SessionCache.invalidate(spark, Sf)
    assert(answers() == before)
  }

  test("SRP near-dups (embedding, bow) replay in-memory bucketing") {
    import graft.operators.SrpReplay
    val emb = graft.Tables(spark, Sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) e")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bow = docs.map { case (id, tx) => (id, SrpReplay.bowVec(tx)) }
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Seq(
      ("embedding", Dedup.embeddingNearDup(spark, Sf), emb, Dedup.CosMin),
      ("bow", Dedup.bowCosine(spark, Sf), bow.toArray, Dedup.BowCosMin)
    ).foreach { case (name, got, vecs, minCos) =>
      val want = SrpReplay.pairs(vecs, Dedup.SrpTables, Dedup.SrpBits,
        minCos)
      assert(triples(got) == want, name)
      assert(want.nonEmpty, s"$name: no pairs above $minCos")
    }
  }

  test("warm n-gram joins plan no Window over the 4-gram postings") {
    // the postings (df, posting minimum, per-doc (df, g) rank) are one
    // session cut: after a warm-up call the ngram, prefix and
    // containment serves filter and join it, recounting nothing
    import org.apache.spark.sql.catalyst.plans.logical.Window
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "ngram" -> (() => Dedup.ngramJaccard(spark, Sf)),
      "prefix" -> (() => Dedup.ngramJaccardPrefix(spark, Sf)),
      "containment" -> (() => Dedup.containment(spark, Sf))
    ).foreach { case (name, call) =>
      call().collect()
      val windows = sqlExecutions(call().collect()).map(_.optimizedPlan
        .collect { case w: Window => w }.size).sum
      assert(windows == 0, s"$name: $windows Window nodes on a warm call")
    }
  }

  test("cold minhash + simhash build one typed signature kernel over sh3") {
    // one md5 pass per shingle serves both the band keys and the simhash
    // fingerprint: the cold builds run ONE MapPartitions execution
    import org.apache.spark.sql.catalyst.plans.logical.MapPartitions
    SessionCache.invalidate(spark, Sf)
    val kernels = sqlExecutions {
      Dedup.minhashLsh(spark, Sf).collect(): Unit
      Dedup.simhashPairs(spark, Sf).collect(): Unit
    }.count(_.optimizedPlan.exists(_.isInstanceOf[MapPartitions]))
    assert(kernels == 1, s"$kernels typed kernel executions")
  }

  test("simhash chunk join reproduces brute-force Hamming <= 7 pairs") {
    def h56(s: String): Long =
      java.lang.Long.parseLong(
        MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .take(7).map(b => f"${b & 0xff}%02x").mkString, 16)
    def simhash(sh: Set[String]): Long =
      (0 until Dedup.SimhashBits).map { b =>
        val vote = sh.toSeq.map(s => ((h56(s) >> b) & 1L) * 2 - 1).sum
        if (vote > 0) 1L << b else 0L
      }.sum
    val sims = docs.map { case (id, tx) => (id, simhash(shingleSet(tx, 3))) }
    val want = (for {
      (a, sa) <- sims; (b, sb) <- sims if a < b
      hd = java.lang.Long.bitCount(sa ^ sb)
      if hd <= Dedup.HammingMax
    } yield (a, b, hd.toLong)).toSet
    val got = Dedup.simhashPairs(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming"))).toSet
    assert(got == want)
  }

  test("media decode seam: deterministic stub, explicit real-decoder gap") {
    val f = Multimodal.ByteHistogramDecoder.features("abcdefgh".getBytes)
    assert(f.toSeq == "abcdefgh".getBytes.map(b => (b & 0xff).toLong).toSeq)
    assert(Multimodal.ByteHistogramDecoder.features(Array.emptyByteArray)
      .forall(_ == 0L))
    intercept[UnsupportedOperationException] {
      Multimodal.RealImageDecoder.features(Array[Byte](1))
    }
    // resize stub: fixed-size output, mean-preserving on uniform input
    val r = Multimodal.resizeStub(Array.fill[Byte](100)(10), 8)
    assert(r.length == 8 && r.forall(_ == 10.0))
    assert(Multimodal.resizeStub(Array.emptyByteArray, 4).toSeq ==
      Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("fixture text stays under the multimodal oracle bounds (parity guard)") {
    // The decode/frame/audio oracle SQL enumerates fixed ranges —
    // range(1, 2001) byte positions and range(0, 40) frames at
    // stride/hop 32 (i.e. len ≤ 1280) — while the Spark side is
    // unbounded. Like AprioriSpec's MaxBasket guard, this pins the
    // fixture assumption so a regenerated wider fixture fails HERE with
    // an explanation instead of silently making the oracle the wrong
    // reference.
    val bound = math.min(2000,
      40 * math.min(Multimodal.FrameStride, Multimodal.FrameHop))
    for (sf <- Seq(Sf, "/root/testdata/sf0.01")) {
      val maxLen = graft.Tables(spark, sf, "documents")
        .selectExpr("max(length(text))").collect()(0).getInt(0)
      assert(maxLen <= bound,
        s"$sf max text length $maxLen exceeds oracle enumeration bound " +
          s"$bound — widen range(...) in Multimodal.oracle to match")
    }
  }

  test("fuzzy join: planted near-keys within the edit budget pair up, " +
    "beyond-budget and blocked-out pairs do not") {
    val s = spark; import s.implicits._
    // 24-char keys along a substitution chain: each neighbor differs by
    // ≤ 2 edits (1↔2: 1 sub; 2↔3: 2 subs; 3↔4: 2 subs), while the
    // skip-pairs exceed the budget (1↔3: 3 subs, 1↔4: 6, 2↔4: 4); doc 5
    // shares no aligned segment with anyone.
    val docs = Seq(
      (1L, "aaaaaaaabbbbbbbbcccccccc trailing text"),
      (2L, "aaaaaaaXbbbbbbbbcccccccc trailing text"),
      (3L, "aaaaaaXXbbbbbbXbcccccccc trailing text"),
      (4L, "aaaaaXXXbbbbbXXbcccccccc trailing text"),
      (5L, "ddddddddeeeeeeeeffffffff other")).toDF("doc_id", "text")
    val got = Dedup.fuzzyJoinOf(docs).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Long]("lev"))).toSet
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 2L)))
    // the over-budget pairs still share the common third segment, so
    // blocking surfaced them as candidates — the exact verify cut them:
    val cand = Dedup.fuzzyCandidatesOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((1L, 3L), (1L, 4L), (2L, 4L)).subsetOf(cand))
    assert(!cand.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("fuzzy recall audit: ground truth reconciles and blocking " +
    "misses nothing on the fixture sample") {
    val r = Dedup.fuzzyRecall(spark, Sf).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") == Dedup.FuzzySample.toLong)
    assert(row.getAs[Long]("n_true") ==
      row.getAs[Long]("n_found") + row.getAs[Long]("n_missed"))
    assert(row.getAs[Long]("n_missed") >= 0L)
    // every found pair is a true pair by construction (verified exact),
    // and on this fixture the aligned-segment blocking is lossless
    assert(row.getAs[Long]("n_missed") == 0L,
      s"blocking missed ${row.getAs[Long]("n_missed")} true pairs at sf0.001")
  }

  test("containment: planted quote-inclusion found, Jaccard-blind case") {
    val s = spark; import s.implicits._
    // doc 0 is a 12-token paragraph; doc 1 embeds it verbatim inside a
    // much longer page (Jaccard ~ 0.2 — below every symmetric gate);
    // doc 2 is unrelated
    val para = (1 to 12).map(i => s"p$i").mkString(" ")
    val page = (1 to 40).map(i => s"q$i").mkString(" ") + " " + para
    val corpus = Seq((0L, para), (1L, page), (2L, "x1 x2 x3 x4 x5 x6"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentOf(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("containment")))
    assert(got.toSeq == Seq((0L, 1L, 1.0)),
      s"expected exactly the planted inclusion, got ${got.toSeq}")
    // and the symmetric n-gram dedup misses it at tau = 0.7
    val sym = Dedup.ngramJaccardOf(corpus).collect()
    assert(sym.isEmpty)
  }

  test("containment prefix bound: exact ceil at the IEEE hazard sizes") {
    val s = spark; import s.implicits._
    // 33 tokens -> 30 4-gram shingles: ceil(0.9*30) in doubles is 28
    // (27.000000000000004 rounds up); the exact rational gives 27. A
    // contained doc missing exactly 3 of 30 shingles (containment 0.9)
    // sits ON the bound: only the exact prefix (30-27+1 = 4 rarest
    // shingles) is guaranteed to probe it.
    val base = (1 to 33).map(i => s"t$i").mkString(" ")
    // container shares tokens 4..33 (drops the first 3 tokens -> the
    // contained doc keeps exactly 27 of its 30 shingles)
    val container = (4 to 33).map(i => s"t$i").mkString(" ") +
      " " + (1 to 30).map(i => s"z$i").mkString(" ")
    val corpus = Seq((0L, base), (1L, container)).toDF("doc_id", "text")
    val got = Dedup.containmentOf(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("inter"), r.getAs[Long]("sz_a")))
    assert(got.toSeq == Seq((0L, 1L, 27L, 30L)),
      s"boundary containment pair lost: ${got.toSeq}")
  }

  test("span align: planted overlap located with exact offsets") {
    val s = spark; import s.implicits._
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val a = (1 to 5).map(i => s"a$i").mkString(" ") + " " + shared +
      " " + (1 to 4).map(i => s"a9$i").mkString(" ")
    val b = (1 to 7).map(i => s"b$i").mkString(" ") + " " + shared
    val corpus = Seq((0L, a), (1L, b), (2L, "z1 z2 z3 z4 z5 z6 z7 z8"))
      .toDF("doc_id", "text")
    val got = Dedup.spanAlignOf(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("lcs_tokens"),
        r.getAs[Long]("a_start"), r.getAs[Long]("b_start")))
    // the 10 shared tokens start at position 5 of A and 7 of B
    assert(got.toSeq == Seq((0L, 1L, 10L, 5L, 7L)), got.toSeq.toString)
  }
}

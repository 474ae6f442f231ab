package graft

import java.security.MessageDigest

import graft.operators.{Curation, Dedup, TextOps}

/** Curation operators vs in-memory brute force on sf0.001. */
class CurationSpec extends SparkSpecBase {

  private lazy val docs: Seq[(Long, String, String)] =
    graft.Tables(spark, Sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  /** Brute-force mirror of [[graft.functions.Md5Uniform]]. */
  private def u(key: String): Double = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16).toDouble / 4294967296.0
  }

  private def u(docId: Long): Double = u(docId.toString)

  private def rate(lang: String): Double =
    Curation.SampleRates.toMap.getOrElse(lang, Curation.DefaultRate)

  test("stratified sampling keeps exactly the docs with u(id) < rate(lang)") {
    val got = Curation.sampleStratified(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Double]("u"))).toSet
    val want = docs.collect {
      case (id, lang, _) if u(id) < rate(lang) => (id, lang, u(id))
    }.toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < docs.size) // both sides of the gate
    // reproducible: hash sampling is a pure row function
    val again = Curation.sampleStratified(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Double]("u"))).toSet
    assert(again == got)
  }

  test("two-level shard packing equals the naive global prefix sum") {
    val got = Curation.packShards(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Long]("n_tokens"), r.getAs[Long]("shard")))).toMap
    var cum = 0L
    val want = docs.sortBy(_._1).map { case (id, _, text) =>
      val n = text.split(" ", -1).length.toLong
      val shard = cum / Curation.ShardBudget
      cum += n
      id -> (n, shard)
    }.toMap
    assert(got == want)
    // multiple shards exist and ids are non-decreasing along doc order:
    // a doc never lands in an earlier shard than its predecessor
    assert(got.values.map(_._2).max >= 2)
    val byId = got.toSeq.sortBy(_._1).map(_._2._2)
    assert(byId.zip(byId.tail).forall { case (a, b) => a <= b })
  }

  test("recursed offsets equal the global prefix sum beyond one group level") {
    // the fixture has ≤ 2 first-level groups, so recursion levels run
    // degenerate there; 70k synthetic docs give 274 groups → 2 groups of
    // groups → 1 root row, exercising every recursion level non-trivially
    val s = spark; import s.implicits._
    val n = 70000L
    val corpus = spark.range(n).selectExpr(
      "id AS doc_id",
      // 1..7 single-char tokens per doc, deterministic in doc_id
      "array_join(array_repeat('x', cast(id % 7 AS INT) + 1), ' ') AS text")
    val got = Curation.packShardsOf(corpus).collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Long]("n_tokens"), r.getAs[Long]("shard")))).toMap
    var cum = 0L
    val want = (0L until n).map { id =>
      val tok = (id % 7) + 1
      val shard = cum / Curation.ShardBudget
      cum += tok
      id -> (tok, shard)
    }.toMap
    assert(got == want)
    assert(got.values.map(_._2).max > 60) // many shards, real cumsum depth
  }

  private def uSalted(docId: Long): Double =
    u(Curation.SplitSalt + docId.toString)

  test("split assigns every doc exactly one split by the salted uniform") {
    val got = Curation.splitAssign(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("u"), r.getAs[String]("split")))
    // a partition of the corpus: every doc appears exactly once
    assert(got.map(_._1).toSet == docs.map(_._1).toSet)
    assert(got.length == docs.size)
    // each assignment matches the brute-force salted threshold
    got.foreach { case (id, uu, split) =>
      assert(uu == uSalted(id))
      val want =
        if (uu < Curation.TrainFrac) "train"
        else if (uu < Curation.ValCut) "val"
        else "test"
      assert(split == want, s"doc $id u=$uu")
    }
    // train dominates; and the split is independent of the SAMPLING
    // uniform (different salt): some sampled-out docs still train
    val bySplit = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit("train") > bySplit.getOrElse("val", 0))
    assert(bySplit("train") > bySplit.getOrElse("test", 0))
    // stable under repartitioning (pure row function)
    val again = Curation.splitAssignOf(
      graft.Tables(spark, Sf, "documents").repartition(7)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toSet
    assert(again == got.map(t => (t._1, t._3)).toSet)
  }

  test("upsert: updates win, inserts land, untouched rows carry through") {
    val s = spark; import s.implicits._
    val snap = Seq((1L, 0L, "old one"), (2L, 0L, "old two"),
      (3L, 0L, "old three")).toDF("doc_id", "version", "text")
    val batch = Seq((2L, 1L, "new two"), (9L, 1L, "brand new"))
      .toDF("doc_id", "version", "text")
    val got = Curation.upsertOf(snap, batch).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("version"), r.getAs[String]("text"))).toSet
    assert(got == Set((1L, 0L, "old one"), (2L, 1L, "new two"),
      (3L, 0L, "old three"), (9L, 1L, "brand new")))
    // fixture entry: exactly the mod-keyed docs advance to version 1
    // with reversed tokens; everything else is version 0 verbatim
    val full = Curation.upsert(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("version"), r.getAs[String]("text")))
    assert(full.map(_._1).toSet == docs.map(_._1).toSet)
    val byId = docs.map(d => d._1 -> d._3).toMap
    full.foreach { case (id, v, text) =>
      if (id % Curation.UpsertMod == 0) {
        assert(v == 1L)
        assert(text == byId(id).split(" ", -1).reverse.mkString(" "))
      } else {
        assert(v == 0L && text == byId(id))
      }
    }
  }

  test("pipelineE2e = strict curation → chunking → packing, composed") {
    val kept = Curation.curateStrict(spark, Sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val chunks = Curation.chunk(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"), r.getAs[Int]("n_tokens").toLong))
      .filter(c => kept(c._1))
      .sortBy(c => (c._1, c._2))
    var cum = 0L
    val want = chunks.map { case (id, cid, n) =>
      val shard = cum / Curation.ShardBudget
      cum += n
      (id, cid, n, shard)
    }.toSet
    val got = Curation.pipelineE2e(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("shard")))
      .toSet
    assert(got == want)
    // only curated docs flow through, and they span multiple shards
    assert(got.map(_._1).toSet == kept.filter(id =>
      chunks.exists(_._1 == id)))
    assert(got.map(_._4).max >= 1)
  }

  test("kept sets serve from the session cache; invalidate rebuilds") {
    import org.apache.spark.sql.execution.RDDScanExec
    def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.sparkPlan
        .collect { case r: RDDScanExec => r.rdd.id }.toSet
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getAs[Long]("doc_id")).toSet
    val first = ids(Curation.curateStrict(spark, Sf)) // warm
    val a = Curation.curateStrict(spark, Sf)
    val b = Curation.curateStrict(spark, Sf)
    assert(leaves(a).nonEmpty && leaves(a) == leaves(b),
      "repeated calls did not reuse the cached kept set")
    SessionCache.invalidate(spark, Sf)
    val c = Curation.curateStrict(spark, Sf)
    assert((leaves(c) intersect leaves(a)).isEmpty,
      "invalidate left the old checkpoint in the plan")
    assert(ids(c) == first, "rebuilt kept set diverged")
  }

  test("pipeline_incremental: per-key ledger matches its constituents") {
    val rows = Curation.pipelineIncremental(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("status"), r.getAs[Boolean]("is_dup"),
        r.getAs[Boolean]("quality_pass"), r.getAs[Boolean]("is_en"), r.getAs[Boolean]("accepted"),
        r.getAs[Long]("n_tokens_new"), r.getAs[Long]("n_tokens_old"), r.getAs[Long]("token_delta")))).toMap
    // the report covers exactly the diff's added/changed/removed keys
    val diff = Curation.snapshotDiff(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val affected = diff.filter(kv => kv._2 != "unchanged")
    assert(rows.keySet == affected.keySet)
    rows.foreach { case (id, (status, _, _, _, _, _, _, _)) =>
      assert(status == diff(id), s"doc $id status")
    }
    // ledger arithmetic: accepted = !dup ∧ quality ∧ en, delta priced
    // only when the ingest applies; a removal always applies
    rows.foreach { case (id,
        (status, dup, q, en, acc, nNew, nOld, delta)) =>
      if (status == "removed") {
        assert(acc && nNew == 0L && delta == -nOld, s"doc $id removal")
      } else {
        assert(acc == (!dup && q && en), s"doc $id accepted")
        assert(delta == (if (acc) nNew - nOld else 0L), s"doc $id delta")
        if (status == "added") assert(nOld == 0L, s"doc $id old tokens")
      }
    }
    // the planted re-found copies: every 'added' key is a clone of a
    // corpus doc that is still in the old index → must be flagged dup
    val added = rows.filter(_._2._1 == "added")
    assert(added.nonEmpty)
    added.foreach { case (id, (_, dup, _, _, _, _, _, _)) =>
      assert(dup, s"added clone $id must near-dup its source")
    }
    // and the corpus-size delta is the sum of the per-key ledger
    val want = rows.values.map(_._8).sum
    assert(want == rows.values.collect {
      case (s, _, _, _, true, nNew, nOld, _) if s != "removed" =>
        nNew - nOld
      case ("removed", _, _, _, _, _, nOld, _) => -nOld
    }.sum)
  }

  test("curate_diverse = md5 cluster cap over exactly the curated set") {
    import graft.operators.Similarity
    val kept = Curation.curate(spark, Sf).collect().map(_.getAs[Long]("doc_id")).toSet
    val got = Curation.curateDiverse(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cid"), r.getAs[Long]("cluster_n"), r.getAs[Long]("rk")))
    // brute force: corpus-trained refined quantizer, assignment + md5
    // rank restricted to the curated survivors
    val embDf = graft.Tables(spark, Sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) e")
    val vecs = embDf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cents = Similarity.kmeansCentroids(embDf, Similarity.IvfKmeansIters)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def md5hex(s: String) = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val assign = vecs.filter(kv => kept.contains(kv._1)).map {
      case (id, e) =>
        id -> cents.maxBy { case (cid, ce) => (cos(e, ce), -cid) }._1
    }
    val want = assign.groupBy(_._2).flatMap { case (cid, m) =>
      val ordered = m.keys.toSeq.sortBy(id => (md5hex(id.toString), id))
      ordered.zipWithIndex.collect {
        case (id, i) if i < Similarity.ClusterSampleCap =>
          (id, cid, m.size.toLong, i + 1L)
      }
    }.toSet
    assert(got.toSet == want)
    // a gate-dropped doc never occupies a cluster slot
    assert(got.map(_._1).toSet.subsetOf(kept))
  }

  test("dataset hash: driver replay, partition independence, tamper evidence") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val corpus = graft.Tables(spark, Sf, "documents")
      .select("doc_id", "text")
    val got = Curation.datasetHashOf(corpus).collect()
      .map(r => r.getAs[Long]("shard") -> ((r.getAs[Long]("n_docs"), r.getAs[String]("digest")))).toMap
    // driver replay of the two digest levels
    val d = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val perShard = d.groupBy(_._1 / Curation.HashShard)
    val wantShards = perShard.map { case (sh, ds) =>
      sh -> ((ds.length.toLong,
        md5hex(ds.sortBy(_._1).map { case (id, tx) =>
          md5hex(s"$id:$tx") }.mkString)))
    }
    wantShards.foreach { case (sh, w) => assert(got(sh) == w, s"shard $sh") }
    val wantCorpus = md5hex(wantShards.toSeq.sortBy(_._1)
      .map(_._2._2).mkString)
    assert(got(-1L) == ((d.length.toLong, wantCorpus)))
    // repartitioning cannot move the digest
    val again = Curation.datasetHashOf(corpus.repartition(7)).collect()
      .map(r => r.getAs[Long]("shard") -> ((r.getAs[Long]("n_docs"), r.getAs[String]("digest")))).toMap
    assert(again == got)
    // one flipped byte in one doc flips exactly its shard + the corpus
    val s2 = spark; import s2.implicits._
    val tampered = d.map { case (id, tx) =>
      (id, if (id == 3L) tx + "x" else tx) }.toSeq.toDF("doc_id", "text")
    val t = Curation.datasetHashOf(tampered).collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[String]("digest")).toMap
    got.foreach { case (sh, (_, dig)) =>
      if (sh == 3L / Curation.HashShard || sh == -1L)
        assert(t(sh) != dig, s"shard $sh should have flipped")
      else assert(t(sh) == dig, s"shard $sh should be unchanged")
    }
  }

  test("temperature mixing: sqrt-share weights, pinned fold, boosts invert") {
    val toks = graft.Tables(spark, Sf, "documents")
      .selectExpr("lang", "cast(size(split(text, ' ')) as bigint) n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val perLang = toks.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tot = perLang.values.sum
    val s = perLang.map { case (l, n) =>
      l -> math.sqrt(n.toDouble / tot.toDouble) }
    val denom = s.toSeq.sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _)
    val got = Curation.mixTemperature(spark, Sf).collect()
      .map(r => r.getAs[String]("lang") -> ((r.getAs[Long]("n_tokens"), r.getAs[Double]("share"),
        r.getAs[Double]("temp_weight"), r.getAs[Double]("boost")))).toMap
    assert(got.keySet == perLang.keySet)
    got.foreach { case (l, (n, share, w, boost)) =>
      assert(n == perLang(l), l)
      assert(share == n.toDouble / tot.toDouble, l)
      assert(w == s(l) / denom, s"$l temp_weight not bit-equal")
      assert(boost == (s(l) / denom) / share, l)
    }
    // weights are a distribution; the temperature flattens toward the
    // tail: above-average-share langs get boost < 1, below get > 1
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-12)
    got.foreach { case (l, (_, share, w, boost)) =>
      assert((share > w) == (boost < 1.0), l)
    }
  }

  test("pack offsets: within-shard offsets replay the global prefix sum") {
    val rows = Curation.packOffsets(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("shard"),
        r.getAs[Long]("offset")))
    assert(rows.nonEmpty)
    // global sequential replay in (doc_id, chunk_id) order
    var cum = 0L
    val budget = Curation.ShardBudget
    rows.sortBy(t => (t._1, t._2)).foreach {
      case (doc, chunk, n, shard, off) =>
        assert(shard == cum / budget, s"($doc,$chunk) shard")
        assert(off == cum % budget, s"($doc,$chunk) offset")
        cum += n
    }
    // shard ids agree with packChunks row-for-row
    val shardOf = Curation.packChunks(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) -> r.getAs[Long]("shard")).toMap
    rows.foreach { case (doc, chunk, _, shard, _) =>
      assert(shardOf((doc, chunk)) == shard, s"($doc,$chunk)")
    }
    // within a shard, chunks tile contiguously (shard 0 from offset 0;
    // later shards may open mid-offset when the previous shard's last
    // chunk straddles the boundary — assignment is by START position)
    rows.groupBy(_._4).foreach { case (shard, rs) =>
      val sorted = rs.sortBy(t => (t._1, t._2))
      if (shard == 0L) assert(sorted.head._5 == 0L, "shard 0 start")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 + a._3 == b._5, s"shard $shard gap at ${b._2}")
        case _ =>
      }
    }
  }

  test("corpus card: every section recounts from its constituent tables") {
    val rows = Curation.corpusCard(spark, Sf).collect()
      .map(r => (r.getAs[String]("section"), r.getAs[String]("metric")) -> r.getAs[Double]("value")).toMap
    // volume from a direct recount
    val toks = graft.Tables(spark, Sf, "documents")
      .selectExpr("lang", "source",
        "cast(size(split(text, ' ')) as bigint) as n_tok")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows(("volume", "n_docs")) == toks.length.toDouble)
    assert(rows(("volume", "n_tokens")) == toks.map(_._3).sum.toDouble)
    assert(rows(("volume", "n_sources")) ==
      toks.map(_._2).distinct.length.toDouble)
    assert(rows(("volume", "n_langs")) ==
      toks.map(_._1).distinct.length.toDouble)
    // language shares: same single division, and they sum to ~1
    val total = toks.map(_._3).sum.toDouble
    toks.groupBy(_._1).foreach { case (lang, ds) =>
      assert(rows(("lang_share", lang)) ==
        ds.map(_._3).sum.toDouble / total, lang)
    }
    val shareSum = rows.collect {
      case ((s, _), v) if s == "lang_share" => v }.sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    // gate rates re-aggregate from the gate report
    val gr = Curation.gateReport(spark, Sf).collect()
    val nd = gr.map(_.getAs[Long]("n_docs")).sum.toDouble
    def rate(c: String) = gr.map(_.getAs[Long](c)).sum.toDouble / nd
    assert(rows(("gate_rate", "quality")) == rate("n_quality"))
    assert(rows(("gate_rate", "repetition")) == rate("n_rep"))
    assert(rows(("gate_rate", "badwords")) == rate("n_badwords"))
    assert(rows(("gate_rate", "english")) == rate("n_en"))
    assert(rows(("gate_rate", "decontaminated")) == rate("n_clean"))
    assert(rows(("gate_rate", "unique")) == rate("n_unique"))
    assert(rows(("gate_rate", "corpus")) == rate("n_corpus"))
    // exact quantiles: the ceil(q·n)-th smallest token count
    val sorted = toks.map(_._3.toDouble).sorted
    Curation.CardQs.foreach { q =>
      val want = sorted(math.ceil(q * sorted.length).toInt - 1)
      assert(rows(("len_quantile", q.toString)) == want, s"q=$q")
    }
  }

  test("quality drift recounts from the per-doc quality tables") {
    val got = Curation.qualityDrift(spark, Sf).collect()
      .map(r => r.getAs[String]("snapshot") -> ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_pass"),
        r.getAs[Double]("pass_rate"), r.getAs[Double]("mean_tokens"), r.getAs[Double]("mean_distinct_ratio"), r.getAs[Double]("mean_stopword_ratio"))))
      .toMap
    assert(got.keySet == Set("current", "next"))
    def recount(side: org.apache.spark.sql.DataFrame) = {
      val rows = TextOps.qualityScoreOf(side).collect()
        .map(r => (r.getAs[Int]("n_tokens").toLong, r.getAs[Double]("distinct_ratio"), r.getAs[Double]("stopword_ratio"),
          r.getAs[Boolean]("quality_pass")))
      val n = rows.length.toLong
      val nPass = rows.count(_._4).toLong
      def dmean(xs: Seq[Double]) =
        xs.map(x => math.floor(x * 1e12).toLong).sum / 1e12 / n.toDouble
      (n, nPass, nPass.toDouble / n.toDouble,
        rows.map(_._1).sum.toDouble / n.toDouble,
        dmean(rows.map(_._2).toSeq), dmean(rows.map(_._3).toSeq))
    }
    val d = graft.Tables(spark, Sf, "documents").select("doc_id", "text")
    assert(got("current") == recount(d))
    // the fabricated crawl's add/drop resampling must move the profile:
    // the report exists to catch exactly this
    assert(got("next")._1 != got("current")._1)
    // and the whole report is partition-independent
    val nextSub = d.where(org.apache.spark.sql.functions.col("doc_id") % 3 === 0)
    val again = Curation.qualityDriftOf(
      d.repartition(7), nextSub.repartition(3)).collect()
    val once = Curation.qualityDriftOf(d, nextSub).collect()
    assert(again.map(_.toSeq.toList).toSet == once.map(_.toSeq.toList).toSet)
  }

  test("curate = quality pass ∩ lang=en − minhash near-dup victims") {
    val got = Curation.curate(spark, Sf).collect().map(_.getAs[Long]("doc_id")).toSet
    val q = TextOps.qualityScore(spark, Sf)
      .collect().filter(_.getAs[Boolean]("quality_pass")).map(_.getAs[Long]("doc_id")).toSet
    val en = TextOps.langId(spark, Sf)
      .collect().filter(_.getAs[String]("lang_pred") == "en").map(_.getAs[Long]("doc_id")).toSet
    val dup = Dedup.minhashLsh(spark, Sf)
      .collect().map(_.getAs[Long]("doc_b")).toSet
    assert(got == (q & en) -- dup)
    assert(got.nonEmpty && got.size < docs.size)
  }

  test("curriculum stages match the brute-force cumulative-share bands") {
    val got = Curation.curriculum(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket"), r.getAs[Long]("n_tokens"), r.getAs[Long]("stage")))
    // driver-side replay: bucket by distinct ratio, prefix-sum the
    // bucket token totals in ascending-bucket order, band at 50%/80%
    val base = docs.map { case (id, _, text) =>
      val t = text.split(" ", -1)
      val ratio = t.distinct.length.toDouble / t.length.toDouble
      val b = math.min(
        math.floor(ratio * Curation.CurriculumBuckets).toLong,
        Curation.CurriculumBuckets - 1)
      (id, b, t.length.toLong)
    }
    val totals = base.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val total = totals.values.sum
    val stageOf = totals.keys.toSeq.sorted.map { b =>
      val cumPrev = totals.filter(_._1 < b).values.sum
      b -> (if (cumPrev * 5 >= total * 4) 2L
            else if (cumPrev * 2 >= total) 1L else 0L)
    }.toMap
    val want = base.map { case (id, b, n) => (id, b, n, stageOf(b)) }.toSet
    assert(got.toSet == want)
    // all three stages are populated and monotone in bucket order
    assert(got.map(_._4).toSet == Set(0L, 1L, 2L))
    val byBucket = got.groupBy(_._2).view.mapValues(_.map(_._4).toSet)
    byBucket.foreach { case (b, ss) =>
      assert(ss.size == 1, s"bucket $b spans stages $ss")
    }
    val ordered = byBucket.toSeq.sortBy(_._1).map(_._2.head)
    assert(ordered == ordered.sorted, s"stages not monotone: $ordered")
  }

  test("mix epochs: brute-force replay, cap respected, budget-shaped") {
    val got = Curation.mixEpochs(spark, Sf).collect()
      .map(r => r.getAs[String]("lang") -> ((r.getAs[Long]("n_tokens"), r.getAs[Double]("mix_weight"),
        r.getAs[Double]("epochs"), r.getAs[Double]("planned_tokens")))).toMap
    val perLang = docs.groupBy(_._2).view.mapValues { xs =>
      xs.map(_._3.split(" ", -1).length.toLong).sum
    }.toMap
    val tot = perLang.values.sum
    val nLangs = perLang.size
    got.foreach { case (lang, (nTok, w, epochs, planned)) =>
      assert(nTok == perLang(lang), lang)
      val wWant = (nTok + Curation.MixSmooth).toDouble /
        (tot + Curation.MixSmooth * nLangs).toDouble
      assert(w == wWant, lang)
      val eWant = math.min(Curation.MaxEpochs,
        w * (tot * Curation.EpochBudgetMult).toDouble / nTok.toDouble)
      assert(epochs == eWant && epochs <= Curation.MaxEpochs, lang)
      assert(planned == epochs * nTok.toDouble, lang)
    }
    // up-sampling direction: the scarcest language repeats the most
    val byTok = got.toSeq.sortBy(_._2._1)
    assert(byTok.head._2._3 >= byTok.last._2._3,
      "low-resource language should get >= epochs of the largest")
  }

  test("fertility: >= 1 per language, accounts for every document") {
    val rows = TextOps.fertility(spark, Sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords"),
        r.getAs[Double]("fertility")))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, _, nw, ns, f) =>
      assert(ns >= nw, s"$lang: $ns subwords < $nw words")
      assert(f >= 1.0 && f == ns.toDouble / nw.toDouble, s"$lang: $f")
    }
    assert(rows.map(_._2).sum ==
      graft.Tables(spark, Sf, "documents").count())
  }

  test("mix upsample: each doc appears floor(epochs) or floor+1 times, " +
    "epochs contiguous from 1, totals track planned tokens") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, Sf, "documents")
    val sched = Curation.mixEpochsOf(docs).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("epochs")).toMap
    val manifest = Curation.mixUpsampleOf(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Long]("epoch")))
    val byDoc = manifest.groupBy(m => (m._1, m._2))
    byDoc.foreach { case ((id, lang), rows) =>
      val fl = math.floor(sched(lang)).toLong
      assert(rows.length == fl || rows.length == fl + 1,
        s"doc $id ($lang): ${rows.length} copies vs epochs ${sched(lang)}")
      assert(rows.map(_._3).sorted.toSeq ==
        (1L to rows.length.toLong), s"doc $id epochs not contiguous")
    }
    // langs under one epoch subsample, capped langs repeat: both present
    // in the fixture schedule make this a two-sided test
    sched.foreach { case (lang, e) =>
      val nDocs = docs.where(col("lang") === lang).count()
      val copies = manifest.count(_._2 == lang).toLong
      assert(copies >= math.floor(e).toLong * nDocs &&
        copies <= math.ceil(e).toLong * nDocs, s"$lang: $copies vs $e")
    }
  }

  test("pps sample: matches the sequential systematic walk, total picks " +
    "exactly T div stride") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, Sf, "documents")
    val k = 17L // deliberately not the entry constant
    val got = Curation.samplePpsOf(docs, k).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_picks")))
    val lens = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = lens.map(_._2).sum
    val stride = math.max(1L, total / k)
    var cum = 0L
    val expect = lens.flatMap { case (id, n) =>
      val before = cum; cum += n
      val picks = cum / stride - before / stride
      if (picks > 0) Some((id, n, picks)) else None
    }
    assert(got.sortBy(_._1).toSeq === expect.toSeq)
    assert(got.map(_._3).sum === total / stride)
  }

  test("k-anonymity: partition of the corpus, at_risk iff n < K") {
    val rows = Curation.kAnonymity(spark, Sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source"), r.getAs[Long]("len_bucket"),
        r.getAs[Long]("n_docs"), r.getAs[Boolean]("at_risk")))
    assert(rows.nonEmpty)
    // the QI cells partition the corpus exactly
    val corpusN = Tables(spark, Sf, "documents").count()
    assert(rows.map(_._4).sum == corpusN)
    // flag is exactly the threshold predicate, buckets are aligned
    rows.foreach { case (_, _, bucket, n, risk) =>
      assert(risk == (n < Curation.AnonK))
      assert(bucket % Curation.AnonLenBucket == 0 && bucket >= 0)
    }
    // and the fixture actually exercises both flag values
    assert(rows.exists(_._5) && rows.exists(!_._5))
  }

  test("grouped split: clusters never straddle; singletons keep llm_split") {
    val g = Curation.splitGrouped(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_key"), r.getAs[String]("split")))
    val base = Curation.splitAssign(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toMap
    val clustered = operators.Dedup.clusters(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val inCluster = clustered.map(_._1).toSet
    assert(g.length == base.size)
    // every near-dup cluster lands wholly on one side
    val byGroup = g.filter(x => inCluster(x._1)).groupBy(_._2)
    assert(byGroup.nonEmpty)
    byGroup.foreach { case (gk, xs) =>
      assert(xs.map(_._3).distinct.length == 1,
        s"cluster $gk straddles splits: $xs")
    }
    // singleton docs keep exactly their per-doc split
    g.filterNot(x => inCluster(x._1)).foreach { case (id, gk, sp) =>
      assert(gk == id && sp == base(id))
    }
    // the mechanism engages: non-representative members really do hash
    // the GROUP key (gk != id), and their split equals the split of a
    // doc with doc_id == gk (the representative's per-doc assignment) —
    // the exact rule, whether or not any doc changes sides at this SF
    val movedKey = g.filter { case (id, gk, _) => gk != id }
    assert(movedKey.nonEmpty)
    movedKey.foreach { case (_, gk, sp) => assert(sp == base(gk)) }
  }

  test("t-closeness replays the exact total-variation rational") {
    val base = Tables(spark, Sf, "documents")
      .select("lang", "source", "text").collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getString(2).split(" ", -1).length.toLong
          / Curation.AnonLenBucket * Curation.AnonLenBucket))
    val n = base.length.toLong
    val cv = base.groupBy(_._1).map { case (l, xs) => l -> xs.size.toLong }
    val want = base.groupBy(b => (b._2, b._3)).map { case ((src, lb), xs) =>
      val ng = xs.size.toLong
      val cgv = xs.groupBy(_._1).map { case (l, ys) => l -> ys.size.toLong }
      val num = cv.map { case (l, c) =>
        (BigInt(cgv.getOrElse(l, 0L)) * n - BigInt(c) * ng).abs }.sum
      val den = BigInt(2) * ng * n
      (src, lb, ng, num, den, num.toDouble / den.toDouble)
    }.toSet
    val rows = Curation.tCloseness(spark, Sf).collect()
    val got = rows
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("len_bucket"),
        r.getAs[Long]("n_docs"), BigInt(r.getAs[Long]("tv_num")),
        BigInt(r.getAs[Long]("tv_den")), r.getAs[Double]("t_dist")))
      .toSet
    assert(got == want)
    // t_fp9 is the floor fixed-point of the same rational: BIGINT,
    // engine-exact, monotone with t_dist
    rows.foreach { r =>
      val (num, den) = (r.getAs[Long]("tv_num"), r.getAs[Long]("tv_den"))
      assert(r.getAs[Long]("t_fp9") ==
        (BigInt(num) * 1000000000 / BigInt(den)).toLong)
    }
    // t is a proper TV distance and the fixture exercises both flags
    val flags = rows.map(r =>
      (r.getAs[Double]("t_dist"), r.getAs[Boolean]("at_risk")))
    flags.foreach { case (t, risk) =>
      assert(t >= 0.0 && t <= 1.0 && risk == (t > Curation.AnonT))
    }
    assert(flags.exists(_._2) && flags.exists(!_._2))
  }

  test("pad efficiency: bucketed beats flat, accounting closes") {
    val rows = Curation.padEfficiency(spark, Sf).collect()
      .map(r => (r.getAs[String]("policy"), r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("sum_tokens"), r.getAs[Long]("sum_pad"), r.getAs[Double]("pad_frac")))
    val (bk, fl) = rows.partition(_._1 == "bucketed")
    assert(fl.length == 1 && bk.nonEmpty)
    // same corpus both policies: doc and token totals agree
    assert(bk.map(_._3).sum == fl.head._3)
    assert(bk.map(_._4).sum == fl.head._4)
    // every bucketed doc pads no more than flat would
    assert(bk.map(_._5).sum <= fl.head._5)
    // fraction arithmetic
    rows.foreach { case (_, _, _, tok, pad, frac) =>
      assert(frac == pad.toDouble / (pad + tok).toDouble)
    }
    // buckets come from the declared ladder
    bk.foreach(r => assert(Curation.PadBuckets.contains(r._2)))
  }

  test("shuffle assign: balanced shards, stable under repartition") {
    val src = Tables(spark, Sf, "documents")
      .select("doc_id", "lang", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.shuffleAssignOf(df).collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_docs"), r.getAs[Long]("first_doc_id"),
          r.getAs[Long]("sum_rank"))).toSet
    val got = run(src)
    // bit-stable whatever the partitioning (the md5 rank is global)
    assert(got == run(src.repartition(7)))
    // round-robin deal: shard sizes differ by at most one
    val sizes = got.map(_._2)
    assert(sizes.max - sizes.min <= 1)
    assert(got.map(_._1) == (0L until Curation.ShuffleShards).toSet)
    // total rank mass = n(n+1)/2 — nothing dropped or duplicated
    val n = src.count()
    assert(got.map(_._4).sum == n * (n + 1) / 2)
  }

  test("dq checks: clean fixture passes everything; planted violations " +
    "are counted exactly per constraint") {
    val s = spark; import s.implicits._
    // the shipped suite over the fixture: 6 of 7 constraints green, and
    // the seventh is a TRUE finding — the generator draws l_linenumber
    // uniformly from 1..7 instead of sequencing it per order, so the
    // classic TPC-H primary key genuinely does not hold here (1401
    // collisions at sf0.001). A DQ suite that reports it is doing its
    // job; a fixture tweak would erase the proof.
    val clean = Curation.dqChecks(spark, Sf).collect()
    assert(clean.length == 7)
    val byName = clean.map(r => r.getAs[String]("check") -> r).toMap
    val liKey = byName("lineitem.(l_orderkey,l_linenumber) unique")
    assert(!liKey.getAs[Boolean]("passed")
      && liKey.getAs[Long]("n_bad") == 1401L)
    clean.filter(_ ne liKey).foreach { r =>
      assert(r.getAs[Boolean]("passed") && r.getAs[Double]("metric") == 1.0
        && r.getAs[Long]("n_bad") == 0L, s"unexpected DQ failure: $r")
    }
    // planted documents violations: 1 null text, 1 empty text, a
    // duplicated doc_id, and 2 bad langs (one null, one off-list)
    val docs = Seq(
      (1L, Option("ok"), Option("en")),
      (2L, None, Option("en")),          // null text
      (3L, Option(""), Option("de")),    // empty text
      (3L, Option("dup"), Option("fr")), // duplicate key
      (4L, Option("x"), None),           // null lang
      (5L, Option("y"), Option("xx")))   // off-whitelist lang
      .toDF("doc_id", "text", "lang")
    val got = Curation.dqDocChecks(docs).collect()
      .map(r => r.getAs[String]("check") -> ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_bad")))).toMap
    assert(got("documents.text complete") == ((6L, 2L)))
    assert(got("documents.doc_id unique") == ((6L, 1L)))
    assert(got("documents.lang whitelisted") == ((6L, 2L)))
    // planted FK orphans: children 10,20 match, 30 does not
    val fk = Curation.dqFkCheck("fk",
      Seq(10L, 20L, 30L).toDF("k"),
      Seq(10L, 20L, 20L).toDF("k")).collect().head
    assert(fk.getAs[Long]("n_rows") == 3L && fk.getAs[Long]("n_bad") == 1L)
  }

  test("waterfill: allotments sum exactly to the budget, caps ordered") {
    val s = spark; import s.implicits._
    // counts 10, 20, 30, 100: total 160, T = 96; waterline segment
    // check: sorted asc, first feasible at the 100-source (10+20+30 +
    // 1*100 = 160 >= 96) -> m=4, L = 96-60 = 36, rem 0
    val docs = (Seq.fill(10)("sA") ++ Seq.fill(20)("sB") ++
      Seq.fill(30)("sC") ++ Seq.fill(100)("sD"))
      .map(src => (src, "w"))
      .toDF("source", "text")
    val got = graft.operators.Curation.mixWaterfillOf(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("allot"), r.getAs[Boolean]("capped")))).toMap
    assert(got("sA") == ((10L, 10L, false)))
    assert(got("sB") == ((20L, 20L, false)))
    assert(got("sC") == ((30L, 30L, false)))
    assert(got("sD") == ((100L, 36L, true)))
    // fixture: the budget holds exactly whatever the distribution is
    val fx = graft.operators.Curation.mixWaterfill(spark, Sf).collect()
    val tot = fx.map(_.getAs[Long]("n_tokens")).sum
    val budget = tot * graft.operators.Curation.WaterNum /
      graft.operators.Curation.WaterDen
    assert(fx.map(_.getAs[Long]("allot")).sum == budget)
    fx.foreach { r =>
      assert(r.getAs[Long]("allot") <= r.getAs[Long]("n_tokens"),
        "allot never exceeds supply")
      if (!r.getAs[Boolean]("capped"))
        assert(r.getAs[Long]("allot") == r.getAs[Long]("n_tokens"),
          "uncapped keeps everything")
    }
  }

  test("budget fill: greedy prefix respects allotments, best docs first") {
    val fx = graft.operators.Curation.curateBudget(spark, Sf).collect()
    assert(fx.nonEmpty)
    fx.foreach { r =>
      val (kept, allot) =
        (r.getAs[Long]("tokens_kept"), r.getAs[Long]("allot"))
      assert(kept <= allot, "budget never exceeded")
      assert(r.getAs[Double]("utilization") >= 0.0
        && r.getAs[Double]("utilization") <= 1.0)
    }
    // capped sources cannot have full utilization unless docs align
    val totKept = fx.map(_.getAs[Long]("tokens_kept")).sum
    val totAllot = fx.map(_.getAs[Long]("allot")).sum
    assert(totKept <= totAllot)
  }

  test("coverage select: greedy replay on synthetic docs; gains shrink") {
    val s2 = spark; import s2.implicits._
    // hand-built corpus over a tiny bigram universe: doc 1 covers 3
    // rare bigrams, doc 2 covers 2 fresh ones, doc 3 is redundant
    val docs = Seq(
      (1L, "a b c d"),   // bigrams: "a b" "b c" "c d"
      (2L, "a b e f"),   // fresh: "a b"(dup) "b e" "e f"
      (3L, "a b c d"),   // identical to doc 1 — zero marginal gain
      (4L, "g h")        // lone pair
    ).toDF("doc_id", "text")
    val got = Curation.coverageSelectOf(spark, docs, 4, 100).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[Long]("doc_id"), r.getAs[Long]("gain"), r.getAs[Long]("covered")))
    // step 1: doc 1 (3 bigrams, ties to smaller id over doc 3)
    // step 2: doc 2 (+2: "b e" "e f"), step 3: doc 4 (+1: "g h")
    // step 4: nothing uncovered -> trajectory ends at 3 rows
    assert(got.toSeq == Seq((1L, 1L, 3L, 3L), (2L, 2L, 2L, 5L),
      (3L, 4L, 1L, 6L)))
    // fixture: the greedy marginal gain is non-increasing (submodular
    // diminishing returns) and coverage is the running gain sum
    val fx = Curation.coverageSelect(spark, Sf).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[Long]("gain"), r.getAs[Long]("covered")))
    assert(fx.nonEmpty)
    assert(fx.map(_._2).sliding(2).forall(p =>
      p.length < 2 || p(0) >= p(1)))
    assert(fx.map(_._2).sum == fx.last._3)
  }

  test("doc pareto: brute-force dominance replay on the fixture") {
    val m = graft.Tables(spark, Sf, "documents")
      .select("doc_id", "text").collect().map { r =>
        val t = r.getString(1).split(" ")
        (r.getLong(0), (t.length - t.distinct.length).toLong,
          t.distinct.length.toLong)
      }
    val expect = m.filter { case (_, red, nd) =>
      !m.exists { case (_, or, on) =>
        or <= red && on >= nd && (or < red || on > nd) }
    }.toSet
    val got = Curation.docPareto(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("redundancy"), r.getAs[Long]("n_distinct"))).toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("waterfill: seeded random distributions match the reference solve") {
    val s2 = spark; import s2.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val nSrc = 3 + rnd.nextInt(8)
      val counts = (0 until nSrc).map(i =>
        f"s$i%02d" -> (1 + rnd.nextInt(200)))
      val docs = counts.flatMap { case (src, n) =>
        Seq.fill(n)((src, "w")) }.toDF("source", "text")
      val got = Curation.mixWaterfillOf(docs).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Long]("allot")).toMap
      // reference solve, straight from the definition
      val t = counts.map(_._2.toLong).sum *
        Curation.WaterNum / Curation.WaterDen
      val sorted = counts.map { case (src, c) => (c.toLong, src) }
        .sortBy(identity)
      val k = sorted.length
      val prefix = sorted.scanLeft(0L)(_ + _._1)
      val m = (1 to k).find(i =>
        prefix(i - 1) + (k - i + 1) * sorted(i - 1)._1 >= t).get
      val allot = scala.collection.mutable.Map[String, Long]()
      (0 until m - 1).foreach(j => allot(sorted(j)._2) = sorted(j)._1)
      val cappedSrcs = sorted.drop(m - 1).map(_._2).sorted
      val pool = t - prefix(m - 1)
      val lvl = pool / cappedSrcs.length
      val r2 = pool % cappedSrcs.length
      cappedSrcs.zipWithIndex.foreach { case (src, j) =>
        allot(src) = lvl + (if (j < r2) 1L else 0L) }
      assert(got == allot.toMap, s"trial $trial: $got vs $allot")
      assert(got.values.sum == t, s"trial $trial budget")
    }
  }
}

package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions.col
import graft.operators.{Contamination, Curation, TextOps}

/** Round-4 pipeline operators (decontamination, repetition quality,
  * per-stratum top-N sample, mixing weights) vs in-memory brute force on
  * sf0.001.
  */
class PipelineOpsSpec extends SparkSpecBase {

  private lazy val docs: Seq[(Long, String, String)] =
    graft.Tables(spark, Sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def shingles(text: String, n: Int): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length >= n) t.sliding(n).map(_.mkString(" ")).toSet
    else Set(text)
  }

  /** Driver-side reference BPE: greedy-left merges over a char-symbol
    * word-frequency dict (Sennrich et al. 2016 semantics).
    */
  private def refBpe(freqs: Map[String, Long],
      n: Int): Seq[(Long, String, String, String, Long)] = {
    var words: Seq[(Seq[String], Long)] =
      freqs.toSeq.map { case (w, f) => (w.map(_.toString), f) }
    (1 to n).flatMap { step =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, f) =>
        syms.zip(syms.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      if (counts.isEmpty) None
      else {
        val ((a, b), c) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        words = words.map { case (syms, f) =>
          val out = Seq.newBuilder[String]
          var i = 0
          while (i < syms.length) { // greedy-left merge
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), f)
        }
        Some((step.toLong, a, b, a + b, c))
      }
    }
  }

  test("BPE merges equal the reference greedy-left trainer") {
    val freqs = docs.flatMap(_._3.split(" "))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val want = refBpe(freqs, TextOps.BpeMerges)
    val got = TextOps.bpeMerges(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(got == want)
    assert(got.size == TextOps.BpeMerges) // fixture vocab doesn't exhaust
  }

  test("BPE merge application is greedy-left on overlapping runs") {
    val s = spark; import s.implicits._
    // 'aaaa'×5: pair (a,a) counts 15; merging gives aa aa (greedy-left),
    // then (aa,aa) merges next — the overlap semantics that distinguish
    // BPE from naive pair rewriting
    val vocab = Seq(("aaaa", 5L)).toDF("word", "freq")
    val got = TextOps.bpeMergesOf(vocab, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(4))).toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", "a", 15L), (2L, "aa", "aa", 5L)), got)
  }

  test("BPE encode totals equal a driver-side replay of the learned merges") {
    val freqs = docs.flatMap(_._3.split(" "))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val merges = refBpe(freqs, TextOps.BpeMerges).map(m => (m._2, m._3))
    def apply1(syms: Seq[String], a: String, b: String): Seq[String] = {
      val out = Seq.newBuilder[String]; var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val seg: Map[String, Long] = freqs.keys.map { w =>
      w -> merges.foldLeft(w.map(_.toString): Seq[String]) {
        case (s, (a, b)) => apply1(s, a, b)
      }.length.toLong
    }.toMap
    val want = docs.map { case (id, _, t) =>
      val ws = t.split(" ")
      id -> ((ws.length.toLong, ws.map(seg).sum))
    }.toMap
    val got = TextOps.bpeEncode(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords")))).toMap
    assert(got == want)
    // merges strictly compress: fewer subwords than characters
    got.foreach { case (id, (nw, ns)) =>
      val chars = docs.find(_._1 == id).get._3.count(_ != ' ').toLong
      assert(ns >= nw && ns < chars, id)
    }
  }

  test("PII scrub: injected spans are counted and redacted, rest untouched") {
    val got = TextOps.piiScrub(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"), r.getAs[String]("clean_text")))
    assert(got.length == docs.size)
    val text = docs.map(d => d._1 -> d._3).toMap
    got.foreach { case (id, nEmail, nPhone, clean) =>
      assert(nEmail == (if (id % 3 == 0) 1L else 0L), id)
      assert(nPhone == (if (id % 5 == 0) 1L else 0L), id)
      // the original text survives verbatim as the prefix (redaction
      // never touches non-PII spans — fixture text has no @ or digits)
      assert(clean.startsWith(text(id)), id)
      assert(clean.contains("<email>") == (id % 3 == 0), id)
      assert(clean.contains("<phone>") == (id % 5 == 0), id)
      assert(!clean.contains("@") && !clean.exists(_.isDigit), id)
    }
  }

  test("language confusion matrix partitions the corpus, recalls sum to 1") {
    val rows = TextOps.langConfusion(spark, Sf).collect()
      .map(r => (r.getAs[String]("lang_label"), r.getAs[String]("lang_pred"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("label_recall")))
    assert(rows.map(_._3).sum == docs.size.toLong)
    rows.groupBy(_._1).foreach { case (label, cells) =>
      assert(math.abs(cells.map(_._4).sum - 1.0) < 1e-12, label)
      // each cell's recall is its count over the label total
      val tot = cells.map(_._3).sum
      cells.foreach(c => assert(c._4 == c._3.toDouble / tot, c))
    }
  }

  test("mix check equals a recount over the applied-sample membership") {
    val kept = Curation.mixApply(spark, Sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val want = docs.filter(d => kept(d._1)).groupBy(_._2).map {
      case (lang, g) =>
        lang -> ((g.size.toLong, g.map(_._3.split(" ").length.toLong).sum))
    }
    val got = Curation.mixCheck(spark, Sf).collect()
      .map(r => r.getAs[String]("lang") -> ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    assert(got == want)
  }

  test("cluster-size histogram equals a recount of the membership table") {
    import graft.operators.Dedup
    val members = Dedup.clusters(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val want = members.groupBy(_._2).values.map(_.size.toLong)
      .groupBy(identity).map { case (sz, g) => sz -> g.size.toLong }
    val got = Dedup.clusterSizes(spark, Sf).collect()
      .map(r => r.getAs[Long]("cluster_size") -> r.getAs[Long]("n_clusters")).toMap
    assert(got == want)
    assert(got.keys.min >= 2) // a component is at least a pair
  }

  test("Of-forms tolerate an empty corpus without failing") {
    val s = spark; import s.implicits._
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Curation.packShardsOf(corpus).count() == 0)
    assert(Curation.chunkOf(corpus).count() == 0)
    assert(TextOps.piiScrubOf(corpus).count() == 0)
    assert(graft.operators.Dedup.exactOf(corpus).count() == 0)
    val vocab = Seq.empty[(String, Long)].toDF("word", "freq")
    assert(TextOps.bpeMergesOf(vocab, 3).count() == 0)
    val cl = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    assert(graft.operators.Dedup.clusterSizesOf(cl).count() == 0)
  }

  test("decontaminate matches brute-force eval-set n-gram overlap") {
    val evalGrams = docs.collect {
      case (id, _, text) if id % Contamination.EvalMod == 0 =>
        shingles(text, Contamination.NgramWidth)
    }.flatten.toSet
    val want = docs.collect {
      case (id, _, text) if id % Contamination.EvalMod != 0 =>
        val hits = shingles(text, Contamination.NgramWidth)
          .count(evalGrams.contains)
        (id, (hits.toLong, hits > 0))
    }.toMap
    val got = Contamination.decontaminate(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Long]("n_hit_ngrams"), r.getAs[Boolean]("contaminated")))).toMap
    assert(got == want)
    assert(got.size == docs.count(_._1 % Contamination.EvalMod != 0))
  }

  test("decontaminateOf flags a planted leak and broadcasts the eval side") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares a 5-gram
      (2L, "one two three four five six seven")    // disjoint
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "prefix alpha beta gamma delta epsilon suffix")
    ).toDF("doc_id", "text")
    val out = Contamination.decontaminateOf(train, eval)
    val byId = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(byId(1L) == ((1L, true)))  // "alpha beta gamma delta epsilon"
    assert(byId(2L) == ((0L, false)))
    // the benchmark side must broadcast: the train corpus never shuffles
    // for the semi-join, and the audit left-join must broadcast the hits
    // table rather than sort-merge the full train side
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("bloom decontamination: no false negatives, rare false positives") {
    val exact = Contamination.decontaminate(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hit_ngrams")).toMap
    val bloom = Contamination.decontamBloom(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"), r.getAs[Long]("n_bloom_hits"),
        r.getAs[Boolean]("contaminated_bloom")))
    assert(bloom.map(_._1).toSet == exact.keySet)
    bloom.foreach { case (id, nGrams, bHits, flag) =>
      // one-sided: every exact hit is a bloom hit
      assert(bHits >= exact(id), s"doc $id lost an exact hit")
      assert(bHits <= nGrams && flag == (bHits > 0))
    }
    // the fixture's measured operating point: FPs exist but are rare
    // (the m-sizing note at Contamination.BloomBits)
    val fpDocs = bloom.count { case (id, _, bHits, _) =>
      bHits > exact(id)
    }
    assert(fpDocs > 0, "filter sized so the FP path is exercised")
    assert(fpDocs < bloom.length / 10, s"FP saturation: $fpDocs docs")
    // plan: the materialized filter rides the plan as a LITERAL — the
    // probe is row-local bit tests + one aggregation, no joins at all
    // (the previous design's two broadcast joins are gone)
    val plan = Contamination.decontamBloom(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"probe should be join-free:\n$plan")
    assert(plan.contains("element_at"),
      "filter literal should probe via element_at")
    // and the distributed-build form still produces the same filter
    // the literal path bakes in
    val evalDf = graft.Tables(spark, Sf, "documents")
      .where(org.apache.spark.sql.functions.col("doc_id")
        % Contamination.EvalMod === 0)
    val filter = Contamination.bloomFilterOf(evalDf)
    assert(filter.length ==
      (Contamination.BloomBits / Contamination.BloomWordBits).toInt)
    val viaWith = Contamination.decontamBloomWith(
      graft.Tables(spark, Sf, "documents")
        .where(org.apache.spark.sql.functions.col("doc_id")
          % Contamination.EvalMod =!= 0), filter)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(viaWith == bloom.map(b => (b._1, b._3)).toSet)
  }

  test("contamSweep recounts per width and shows the over/under-flag trade") {
    val got = Contamination.contamSweep(spark, Sf).collect()
      .map(r => r.getAs[Long]("ngram_n") -> ((r.getAs[Long]("n_contaminated"), r.getAs[Long]("n_hit_ngrams")))).toMap
    assert(got.keySet == Contamination.SweepWidths.map(_.toLong).toSet)
    Contamination.SweepWidths.foreach { n =>
      val sh = docs.map { case (id, _, tx) => (id, shingles(tx, n)) }
      val evalSet = sh.filter(_._1 % Contamination.EvalMod == 0)
        .flatMap(_._2).toSet
      val hits = sh.filter(_._1 % Contamination.EvalMod != 0)
        .map { case (_, s) => (s & evalSet).size }
        .filter(_ > 0)
      assert(got(n.toLong) ==
        ((hits.length.toLong, hits.map(_.toLong).sum)), s"n=$n")
    }
    // shorter shingles must flag at least as much as longer ones, and
    // the fixture separates the regimes for real
    val flagged = Contamination.SweepWidths.map(n => got(n.toLong)._1)
    assert(flagged == flagged.sorted.reverse)
    assert(flagged.head > flagged.last)
  }

  test("contamFrac matches brute-force overlap fractions") {
    val evalGrams = docs.collect {
      case (id, _, text) if id % Contamination.EvalMod == 0 =>
        shingles(text, Contamination.NgramWidth)
    }.flatten.toSet
    val want = docs.collect {
      case (id, _, text) if id % Contamination.EvalMod != 0 =>
        val s = shingles(text, Contamination.NgramWidth)
        val hits = s.count(evalGrams.contains)
        val frac = hits.toDouble / s.size.toDouble
        (id, (s.size.toLong, hits.toLong, frac,
          frac >= Contamination.FracThreshold))
    }.toMap
    val got = Contamination.contamFrac(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit_ngrams"), r.getAs[Double]("overlap_frac"), r.getAs[Boolean]("heavy"))))
      .toMap
    assert(got == want)
    // the fraction is bounded and consistent with the boolean gate
    got.values.foreach { case (n, h, f, _) =>
      assert(h <= n && f >= 0.0 && f <= 1.0)
    }
    // heavy ⊆ contaminated: a heavy doc always has at least one hit
    val anyHit = Contamination.decontaminate(spark, Sf).collect()
      .collect { case r if r.getAs[Boolean]("contaminated") => r.getAs[Long]("doc_id") }.toSet
    got.foreach { case (id, (_, _, _, heavy)) =>
      if (heavy) assert(anyHit.contains(id))
    }
  }

  test("curateAudit aggregates back to gateReport and orders first_fail") {
    val audit = Curation.curateAudit(spark, Sf).collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[Boolean]("quality_pass"), r.getAs[Boolean]("rep_pass"),
        r.getAs[Boolean]("badwords_pass"), r.getAs[Boolean]("is_en"), r.getAs[Boolean]("clean"),
        r.getAs[Boolean]("is_unique"), r.getAs[Boolean]("kept"), r.getAs[String]("first_fail"))
    }
    // per-source recount == the report, gate by gate
    val want = Curation.gateReport(spark, Sf).collect().map { r =>
      r.getAs[String]("source") -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_quality"), r.getAs[Long]("n_rep"),
        r.getAs[Long]("n_badwords"), r.getAs[Long]("n_en"), r.getAs[Long]("n_clean"), r.getAs[Long]("n_unique"),
        r.getAs[Long]("n_corpus"))
    }.toMap
    val got = audit.groupBy(_._2).map { case (src, rows) =>
      src -> (rows.length.toLong,
        rows.count(_._3).toLong, rows.count(_._4).toLong,
        rows.count(_._5).toLong, rows.count(_._6).toLong,
        rows.count(_._7).toLong, rows.count(_._8).toLong,
        rows.count(_._9).toLong)
    }
    assert(got == want)
    // first_fail is the FIRST false gate in canonical order; 'none' iff kept
    audit.foreach {
      case (_, _, q, rep, bad, en, cl, uniq, kept, ff) =>
        val expect =
          if (!q) "quality" else if (!rep) "repetition"
          else if (!bad) "badwords" else if (!en) "language"
          else if (!cl) "contamination" else if (!uniq) "duplicate"
          else "none"
        assert(ff == expect && kept == (ff == "none"))
    }
  }

  test("sourceQuality: Wilson bounds match a driver-side replay, bitwise") {
    val stats = TextOps.sourceStats(spark, Sf).collect()
      .map(r => r.getAs[String]("source") -> ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_pass")))).toMap
    val rows = TextOps.sourceQuality(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length == stats.size)
    // driver-side Wilson with the same pinned association
    def wilson(n: Long, k: Long): Double = {
      val z = 1.96
      val z2 = z * z
      val nd = n.toDouble
      val p = k.toDouble / nd
      val center = p + z2 / (2.0 * nd)
      val inner = (p * (1.0 - p) + z2 / (4.0 * nd * nd)) / nd
      (center - z * math.sqrt(inner)) / (1.0 + z2 / nd)
    }
    rows.foreach { r =>
      val (src, n, k, p, lb) = (r.getAs[String]("source"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_pass"),
        r.getAs[Double]("p_hat"), r.getAs[Double]("wilson_lb"))
      assert((n, k) == stats(src), src)
      assert(p == k.toDouble / n.toDouble, src)
      assert(lb == wilson(n, k), s"$src wilson_lb not bit-equal")
      assert(lb >= 0.0 && lb <= p, s"$src bound outside [0, p_hat]")
    }
    // rank is the (wilson_lb DESC, source) order, dense from 1
    val byRank = rows.sortBy(_.getLong(5))
    assert(byRank.map(_.getLong(5)).toSeq == (1L to rows.length).toSeq)
    val resorted = rows.sortBy(r => (-r.getAs[Double]("wilson_lb"), r.getAs[String]("source")))
    assert(byRank.map(_.getString(0)).toSeq ==
      resorted.map(_.getString(0)).toSeq)
    // the small-sample penalty is real: the bound is strictly below the
    // point estimate whenever the estimate is informative
    rows.filter(r => r.getAs[Double]("p_hat") > 0.0).foreach { r =>
      assert(r.getAs[Double]("wilson_lb") < r.getAs[Double]("p_hat"), r.getAs[String]("source"))
    }
  }

  test("repNgrams matches brute-force bigram counting") {
    val want = docs.map { case (id, _, text) =>
      val t = text.split(" ", -1)
      val bg = t.sliding(2).map(_.mkString(" ")).toSeq
      val n = bg.size.toLong
      val nd = bg.distinct.size.toLong
      val top = bg.groupBy(identity).values.map(_.size).max.toLong
      val dupFrac = (n - nd).toDouble / n.toDouble
      val topFrac = top.toDouble / n.toDouble
      id -> ((n, nd, top, dupFrac, topFrac,
        dupFrac <= TextOps.DupBigramMax && topFrac <= TextOps.TopBigramMax))
    }.toMap
    val got = TextOps.repNgrams(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_distinct_bigrams"), r.getAs[Long]("top_bigram_n"),
        r.getAs[Double]("dup_bigram_frac"), r.getAs[Double]("top_bigram_frac"), r.getAs[Boolean]("rep_pass")))).toMap
    assert(got == want)
  }

  test("sampleTopN keeps exactly min(N, stratum) docs per language," +
    " ranked by md5") {
    val got = Curation.sampleTopN(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Long]("rk")))
    val want = docs.groupBy(_._2).flatMap { case (lang, ds) =>
      ds.map(d => (d._1, md5hex(d._1.toString)))
        .sortBy { case (id, h) => (h, id) }
        .take(Curation.TopNPerLang)
        .zipWithIndex
        .map { case ((id, _), i) => (id, lang, (i + 1).toLong) }
    }.toSet
    assert(got.toSet == want)
    val perLang = got.groupBy(_._2).map { case (l, rs) => l -> rs.length }
    val strata = docs.groupBy(_._2).map { case (l, ds) => l -> ds.size }
    assert(perLang == strata.map { case (l, n) =>
      l -> math.min(n, Curation.TopNPerLang)
    })
  }

  test("repNgramsOf drops sub-bigram and null docs instead of crashing") {
    import spark.implicits._
    val out = TextOps.repNgramsOf(
      Seq((1L, "only"), (2L, "a b a b"), (3L, ""), (4L, null: String))
        .toDF("doc_id", "text"))
      .collect()
    assert(out.map(_.getLong(0)).toSet == Set(2L))
    // the tfidf kernel shares the null contract: null text → no terms
    assert(TextOps.tfidfTopTermsOf(
      Seq((1L, "x y"), (2L, null: String)).toDF("doc_id", "text"))
      .collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L))
    val r = out.head // "a b","b a","a b": n=3, distinct=2, top=2
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 2L, 2L)))
  }

  test("Materialize.release only touches the table it is handed") {
    import spark.implicits._
    val base = Seq(1, 2, 3).toDF("x").localCheckpoint()
    // a lineage-retaining persist DERIVED from the checkpoint: its
    // plan contains base's LogicalRDD as a leaf, which release must not
    // unpersist (a released localCheckpoint cannot recompute)
    val derived = base.where($"x" > 1).persist()
    assert(derived.count() == 2)
    Materialize.release(derived)
    assert(base.count() == 3) // upstream checkpoint blocks intact
    val local = Materialize.Local(base.select($"x"))
    Materialize.release(local) // releases its OWN root checkpoint only
    assert(base.count() == 3)
  }

  test("tfidfTopTerms matches brute-force tf·N/df ranking") {
    val n = docs.size.toLong
    val tfByDoc = docs.map { case (id, _, text) =>
      id -> text.split(" ", -1).toSeq.groupBy(identity)
        .map { case (w, ws) => w -> ws.size.toLong }
    }.toMap
    val dfByWord = tfByDoc.values.flatMap(_.keys).toSeq
      .groupBy(identity).map { case (w, ds) => w -> ds.size.toLong }
    val want = tfByDoc.flatMap { case (id, tfs) =>
      tfs.toSeq
        .map { case (w, tf) =>
          (w, tf, dfByWord(w), tf.toDouble * n.toDouble / dfByWord(w).toDouble)
        }
        .sortBy { case (w, _, _, s) => (-s, w) }
        .take(TextOps.TfidfTopK)
        .zipWithIndex
        .map { case ((w, tf, df, s), i) =>
          (id, w) -> ((tf, df, s, (i + 1).toLong))
        }
    }
    val got = TextOps.tfidfTopTerms(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("word")) ->
        ((r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("tfidf"), r.getAs[Long]("rk")))).toMap
    assert(got == want)
    assert(got.count { case (_, (_, _, _, rk)) => rk == 1L } == docs.size)
  }

  test("lmScore matches brute-force min-transition-probability scoring") {
    val bigramsByDoc = docs.map { case (id, _, text) =>
      id -> text.split(" ", -1).toSeq.sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1))).toSeq
    }.toMap
    val corpusCounts = bigramsByDoc.values.flatten.toSeq
      .groupBy(identity).map { case (g, gs) => g -> gs.size.toLong }
    val denByW1 = corpusCounts.toSeq.groupBy(_._1._1)
      .map { case (w1, gs) => w1 -> gs.map(_._2).sum }
    val want = bigramsByDoc.collect {
      case (id, bgs) if bgs.nonEmpty =>
        val distinctPairs = bgs.distinct
        val scored = distinctPairs.map { case (w1, w2) =>
          (corpusCounts((w1, w2)).toDouble / denByW1(w1).toDouble, w1, w2)
        }
        val m = scored.min // (p, w1, w2) tuple order = the struct order
        id -> ((distinctPairs.size.toLong, m._2, m._3, m._1))
    }
    val got = TextOps.lmScore(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[String]("min_w1"), r.getAs[String]("min_w2"), r.getAs[Double]("min_p"))))
      .toMap
    assert(got == want)
    // probabilities are genuine conditionals: in (0, 1]
    assert(got.values.forall { case (_, _, _, p) => p > 0.0 && p <= 1.0 })
    // sub-bigram docs produce no row (none in the fixture, so prove the
    // contract on a tiny corpus: "only" has no transitions)
    import spark.implicits._
    val tiny = TextOps.lmScoreOf(
      Seq((1L, "a b a"), (2L, "only")).toDF("doc_id", "text")).collect()
    assert(tiny.map(_.getLong(0)).toSet == Set(1L))
  }

  test("lmBuckets cuts each language into balanced ordered tiers") {
    val got = TextOps.lmBuckets(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Double]("min_p"),
        r.getAs[Long]("bucket"), r.getAs[String]("tier")))
    // every scored doc is bucketed exactly once
    val scored = TextOps.lmScore(spark, Sf).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got.map(_._1).toSet == scored && got.length == scored.size)
    got.groupBy(_._2).foreach { case (lang, rs) =>
      // ntile balance: bucket sizes differ by at most one
      val sizes = rs.groupBy(_._4).view.mapValues(_.length).toMap
      assert(sizes.keySet == (1L to TextOps.LmBucketCount).toSet)
      assert(sizes.values.max - sizes.values.min <= 1, s"$lang: $sizes")
      // tiers are ordered: every head min_p >= every middle >= every tail
      def band(b: Long) = rs.filter(_._4 == b).map(_._3)
      assert(band(1L).min >= band(2L).max, lang)
      assert(band(2L).min >= band(3L).max, lang)
      // labels follow buckets
      rs.foreach { case (_, _, _, b, tier) =>
        assert(tier == Seq("head", "middle", "tail")(b.toInt - 1))
      }
    }
  }

  test("distinctKmv matches brute force; estimate lands near exact") {
    def u(w: String): Double =
      java.lang.Long.parseLong(md5hex(w).take(8), 16).toDouble / 4294967296.0
    val want = docs.groupBy(_._2).map { case (lang, ds) =>
      val vocab = ds.flatMap(_._3.split(" ", -1)).distinct
      val n = vocab.size.toLong
      val est =
        if (n < TextOps.KmvK) n.toDouble
        else {
          val uk = vocab.map(w => (u(w), w)).sorted.apply(TextOps.KmvK - 1)._1
          (TextOps.KmvK - 1).toDouble / uk
        }
      lang -> ((n, est))
    }
    val got = TextOps.distinctKmv(spark, Sf).collect()
      .map(r => r.getAs[String]("lang") -> ((r.getAs[Long]("n_exact"), r.getAs[Double]("est_distinct")))).toMap
    assert(got == want)
    // the estimator should actually estimate: within ±50% of exact
    // (k=64 ⇒ ~13% relative error, 50% is a loose determinism-proof band)
    got.values.foreach { case (n, est) =>
      assert(est > n * 0.5 && est < n * 1.5, s"estimate $est vs exact $n")
    }
  }

  test("embCentroids: brute-force parity, bit-stable under repartition") {
    import graft.operators.Similarity
    val rows = graft.Tables(spark, Sf, "embeddings")
      .selectExpr("label", "cast(embedding as array<double>) e").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val want = rows.groupBy(_._1).flatMap { case (label, vs) =>
      vs.head._2.indices.map { d =>
        val scaled = vs.map(v => math.floor(v._2(d) * 1e12).toLong).sum
        (label, d.toLong) ->
          ((vs.size.toLong, scaled.toDouble / 1e12 / vs.size.toDouble))
      }
    }
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.embCentroidsOf(df).collect()
        .map(r => (r.getAs[Int]("label"), r.getAs[Long]("dim")) ->
          ((r.getAs[Long]("n"), r.getAs[Double]("centroid")))).toMap
    val base = graft.Tables(spark, Sf, "embeddings")
      .select("label", "embedding")
    val got = run(base)
    assert(got == want)
    // the DECIMAL-stable sum is the point: any partitioning, same bits
    assert(run(base.repartition(7)) == got)
  }

  test("range-sorted layout yields files with disjoint doc_id ranges") {
    val dir = "/tmp/graft-range-sorted"
    val src = graft.Tables(spark, Sf, "documents").select("doc_id", "text")
    graft.sources.TextSources.writeRangeSorted(src, "doc_id", dir, 4)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .map(_.getPath)
    assert(files.length >= 2, files.mkString(","))
    // per-file value ranges must not overlap — that is the property the
    // footer min/max scan-skipping depends on
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("doc_id"),
          org.apache.spark.sql.functions.max("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"overlapping file ranges: ${ranges.mkString(",")}")
    }
    // nothing lost in the layout rewrite
    assert(spark.read.parquet(dir).count() == src.count())
    // and a point-range scan over the layout prunes to a subset of files
    val some = spark.read.parquet(dir)
      .where(col("doc_id") < ranges.head._2)
    assert(some.count() > 0)
  }

  test("hive-partitioned layout prunes directories at planning time") {
    val dir = "/tmp/graft-hive-part"
    val src = graft.Tables(spark, Sf, "documents")
      .select("doc_id", "text", "lang")
    graft.sources.TextSources.writePartitioned(src, "lang", dir)
    // one directory per language value
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).toSet
    val langs = src.select("lang").distinct().collect()
      .map(r => "lang=" + r.getString(0)).toSet
    assert(dirs == langs, s"$dirs vs $langs")
    // the filtered read carries the filter as a PARTITION filter (no
    // data filter, no footer reads outside the matching directory)
    val pruned = spark.read.parquet(dir).where(col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"partition filter missing:\n$plan")
    // fidelity: exactly the unpartitioned table's en rows
    assert(pruned.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq ==
      src.where(col("lang") === "en").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq)
  }

  test("z-ordered layout bounds per-file ranges on BOTH keys") {
    import graft.sources.TextSources
    val dirZ = "/tmp/graft-zorder"
    val dirS = "/tmp/graft-singlesort"
    val dayAbs = org.apache.spark.sql.functions
      .expr(s"(ts_us div ${graft.streaming.Streams.DayUs})")
    val raw = graft.streaming.Streams
      .withEventTime(graft.Tables(spark, Sf, "events"))
      .select(col("event_id"), col("user_id"), dayAbs.as("day_abs"))
    // normalize to min-zero: absolute epoch-days share a constant
    // high-bit prefix that would waste every MSB split
    val day0 = raw.agg(org.apache.spark.sql.functions.min(col("day_abs")))
      .head().getLong(0)
    val src = raw.select(col("event_id"), col("user_id"),
      (col("day_abs") - day0).as("day"))
    val parts = 8
    // tight bit widths so the MSB alignment splits both dimensions
    def bits(c: String): Int = {
      val mx = src.agg(org.apache.spark.sql.functions.max(col(c)))
        .head().getLong(0)
      64 - java.lang.Long.numberOfLeadingZeros(mx max 1L)
    }
    TextSources.writeZOrdered(src, "user_id", "day", dirZ, parts,
      bits("user_id"), bits("day"))
    TextSources.writeRangeSorted(src, "user_id", dirS, parts)

    def ranges(dir: String, c: String): Seq[(Long, Long, String)] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getPath)
            .agg(org.apache.spark.sql.functions.min(c),
              org.apache.spark.sql.functions.max(c)).head()
          (r.getLong(0), r.getLong(1), f.getName)
        }
    def hitting(rs: Seq[(Long, Long, String)], v: Long): Int =
      rs.count { case (lo, hi, _) => lo <= v && v <= hi }

    val zUser = ranges(dirZ, "user_id")
    val zDay = ranges(dirZ, "day")
    val sDay = ranges(dirS, "day")
    assert(zUser.size >= parts - 1)
    // probe with mid-domain values (extremes land in one file trivially)
    val probeU = src.selectExpr("percentile_approx(user_id, 0.5, 100)")
      .head().getLong(0)
    val probeD = src.selectExpr("percentile_approx(day, 0.5, 100)")
      .head().getLong(0)
    // a single-key sort serves only its own key: the OTHER key's value
    // ranges span every file (no pruning); z-order skips files on both
    assert(hitting(sDay, probeD) == sDay.size,
      s"single-sort day ranges unexpectedly prune: $sDay")
    assert(hitting(zUser, probeU) < zUser.size,
      s"z-order did not prune on user_id: $zUser")
    assert(hitting(zDay, probeD) < zDay.size,
      s"z-order did not prune on day: $zDay")
    // the layout rewrite loses nothing
    assert(spark.read.parquet(dirZ).count() == src.count())

    // the interleave itself round-trips: the SQL expression equals a
    // Scala mirror, and de-interleaving recovers both keys exactly
    def zMirror(a: Long, b: Long, bA: Int, bB: Int): Long = {
      val m = math.max(bA, bB)
      (0 until m).foldLeft(0L) { (acc, j) =>
        val pa = 2 * (m - 1 - j)
        val va = if (bA - 1 - j >= 0) ((a >> (bA - 1 - j)) & 1) << pa
                 else 0L
        val vb = if (bB - 1 - j >= 0) ((b >> (bB - 1 - j)) & 1) << (pa + 1)
                 else 0L
        acc | va | vb
      }
    }
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(200)((rnd.nextInt(1 << 9).toLong,
      rnd.nextInt(1 << 13).toLong))
    val zdf = pairs.toDF("a", "b")
      .withColumn("z", TextSources.zValue("a", "b", 9, 13))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    zdf.foreach { case (a, b, z) =>
      assert(z == zMirror(a, b, 9, 13), s"($a,$b)")
      // de-interleave: walk the paired positions back out
      val m = 13
      var (ra, rb) = (0L, 0L)
      (0 until m).foreach { j =>
        val pa = 2 * (m - 1 - j)
        if (9 - 1 - j >= 0) ra |= ((z >> pa) & 1) << (9 - 1 - j)
        if (13 - 1 - j >= 0) rb |= ((z >> (pa + 1)) & 1) << (13 - 1 - j)
      }
      assert(ra == a && rb == b, s"roundtrip ($a,$b) -> ($ra,$rb)")
    }
    // int-typed key columns interleave identically to bigint ones
    // (JVM int shifts mask the amount mod 32 — the cast guards that)
    val zInt = pairs.map { case (a, b) => (a.toInt, b.toInt) }
      .toDF("a", "b")
      .withColumn("z", TextSources.zValue("a", "b", 9, 13))
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong,
        r.getLong(2))).toSet
    assert(zInt == zdf.toSet)
    // asymmetric widths whose POSITIONS would overflow the long are
    // rejected even when the width sum looks safe
    intercept[IllegalArgumentException] {
      TextSources.zValue("a", "b", 10, 40)
    }
  }

  test("gateReport aggregates the individual gates per source") {
    import graft.operators.Dedup
    val source = graft.Tables(spark, Sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val q = TextOps.qualityScore(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("quality_pass")).toMap
    val rep = TextOps.repNgrams(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("rep_pass")).toMap
    val bad = TextOps.badwords(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("badwords_pass")).toMap
    val en = TextOps.langId(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("lang_pred") == "en")).toMap
    val clean = Contamination.decontaminate(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> !r.getAs[Boolean]("contaminated")).toMap
    val dup = Dedup.minhashLsh(spark, Sf).collect()
      .map(_.getAs[Long]("doc_b")).toSet
    val want = source.groupBy(_._2).map { case (src, ds) =>
      val ids = ds.keys.toSeq
      def n(p: Long => Boolean) = ids.count(p).toLong
      src -> ((ids.size.toLong, n(q), n(rep), n(bad), n(en),
        n(id => clean.getOrElse(id, false)), n(id => !dup(id)),
        n(id => q(id) && rep(id) && bad(id) && en(id) &&
          clean.getOrElse(id, false) && !dup(id))))
    }
    val got = Curation.gateReport(spark, Sf).collect()
      .map(r => r.getAs[String]("source") -> ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_quality"),
        r.getAs[Long]("n_rep"), r.getAs[Long]("n_badwords"), r.getAs[Long]("n_en"), r.getAs[Long]("n_clean"),
        r.getAs[Long]("n_unique"), r.getAs[Long]("n_corpus")))).toMap
    assert(got == want)
    // n_corpus per source sums to the strict corpus (which does not
    // gate on badwords) intersected with the badwords gate
    val strict = Curation.curateStrict(spark, Sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(got.values.map(_._8).sum == strict.count(bad(_)).toLong)
  }

  test("curateStrict = curate ∩ rep_pass ∩ not-contaminated") {
    import graft.operators.{Contamination, Curation}
    val strict = Curation.curateStrict(spark, Sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val base = Curation.curate(spark, Sf).collect().map(_.getAs[Long]("doc_id")).toSet
    val rep = TextOps.repNgrams(spark, Sf).collect()
      .filter(_.getAs[Boolean]("rep_pass")).map(_.getAs[Long]("doc_id")).toSet
    val clean = Contamination.decontaminate(spark, Sf).collect()
      .filter(!_.getAs[Boolean]("contaminated")).map(_.getAs[Long]("doc_id")).toSet
    assert(strict == (base & rep & clean))
    assert(strict.nonEmpty && strict.subsetOf(base))
    // the audit join drops the eval split itself: benchmark docs are
    // never in the training corpus
    assert(strict.forall(_ % Contamination.EvalMod != 0))
  }

  test("mixWeights matches brute-force per-language token accounting") {
    val perLang = docs.groupBy(_._2).map { case (lang, ds) =>
      lang -> (ds.size.toLong,
        ds.map(_._3.split(" ", -1).length.toLong).sum)
    }
    val tot = perLang.values.map(_._2).sum
    val nl = perLang.size.toLong
    val k = Curation.MixSmooth
    val want = perLang.map { case (lang, (nd, nt)) =>
      lang -> ((nd, nt, nt.toDouble / tot.toDouble,
        (nt + k).toDouble / (tot + k * nl).toDouble))
    }
    val got = Curation.mixWeights(spark, Sf).collect()
      .map(r => r.getAs[String]("lang") -> ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("token_share"), r.getAs[Double]("mix_weight")))).toMap
    assert(got == want)
    // weights are a (sub-stochastic) mixture: each in (0,1), sum ≈ 1
    val ws = got.values.map(_._4)
    assert(ws.forall(w => w > 0 && w < 1))
    assert(math.abs(ws.sum - 1.0) < 1e-9)
  }
}

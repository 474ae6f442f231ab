package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Quality, TextOps}

/** Trained-quality-classifier semantics: the probe's partition-
  * independence (DECIMAL-exact gradient sums), that both trainers
  * actually learn the gate (beat the majority-class predictor on BOTH
  * classes), label/gate composition, and SGD run-to-run determinism
  * under a pinned partition count.
  */
class QualitySpec extends SparkSpecBase {

  private lazy val docs =
    Tables(spark, Sf, "documents").select("doc_id", "text")

  test("probe θ and scores are partition-count independent") {
    // order-independent DECIMAL gradient sums ⇒ bit-identical θ no
    // matter how the feature table is partitioned — the property that
    // makes the probe reproducible on a 1000-executor cluster AND
    // replayable by the single-threaded oracle
    val a = Quality.qualityProbeOf(docs.repartition(3))
      .select("doc_id", "score", "pred")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Boolean]("pred")))
      .sortBy(_._1)
    val b = Quality.qualityProbeOf(docs.repartition(17))
      .select("doc_id", "score", "pred")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Boolean]("pred")))
      .sortBy(_._1)
    assert(a.length > 0 && a.sameElements(b))
  }

  test("probe learns the gate: beats majority-class on both classes") {
    val p = Quality.qualityProbe(spark, Sf)
      .select(col("label"), col("pred")).collect()
      .map(r => (r.getAs[Double]("label") > 0.5, r.getAs[Boolean]("pred")))
    val pos = p.filter(_._1)
    val neg = p.filterNot(_._1)
    assert(pos.nonEmpty && neg.nonEmpty, "fixture must have both classes")
    val tpr = pos.count(_._2).toDouble / pos.length
    val tnr = neg.count(!_._2).toDouble / neg.length
    // majority-class predictor: tpr = 1, tnr = 0 (balanced 0.5).
    // measured at sf0.001: tpr 0.711, tnr 0.885 — assert with margin
    assert(tpr >= 0.6, s"tpr $tpr")
    assert(tnr >= 0.7, s"tnr $tnr")
  }

  test("probe label is the hand gate: quality_pass AND rep_pass") {
    val lab = Quality.qualityProbe(spark, Sf).select("doc_id", "label")
    val hand = TextOps.qualityScoreOf(docs)
      .select(col("doc_id"), col("quality_pass"))
      .join(TextOps.repNgramsOf(docs)
        .select(col("doc_id"), col("rep_pass")), Seq("doc_id"))
      .select(col("doc_id"),
        when(col("quality_pass") && col("rep_pass"), 1.0)
          .otherwise(0.0).as("label"))
    assert(lab.except(hand).isEmpty && hand.except(lab).isEmpty)
  }

  test("gate is exactly the probe's kept set") {
    val kept = Quality.qualityGate(spark, Sf)
    val fromProbe = Quality.qualityProbe(spark, Sf)
      .where(col("pred")).select("doc_id", "score")
    assert(kept.except(fromProbe).isEmpty
      && fromProbe.except(kept).isEmpty)
    // and the gate keeps a strict, non-trivial subset
    val n = docs.count()
    val nk = kept.count()
    assert(nk > 0 && nk < n)
  }

  test("calibration recounts from the scored table; threshold bins separate") {
    val scored = Quality.qualityProbe(spark, Sf).collect()
      .map(r => (r.getAs[Double]("label"), r.getAs[Double]("score"))) // (label, score)
    val got = Quality.qualityCalibration(spark, Sf).collect()
      .map(r => r.getAs[Long]("bin") -> ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_pos"),
        r.getAs[Double]("frac_pos"), r.getAs[Double]("mean_score")))).toMap
    def binOf(s: Double): Long =
      math.min(Quality.CalibBins - 1L, math.max(0L,
        math.floor(s * 10).toLong))
    def dsum(xs: Iterable[Double]): Double =
      xs.map(x => BigDecimal(math.floor(x * 1e12))).sum.toDouble / 1e12
    val want = scored.groupBy { case (_, s) => binOf(s) }
    assert(got.keySet == want.keySet)
    want.foreach { case (bin, rows) =>
      val (n, pos, frac, mean) = got(bin)
      val p = rows.count(_._1 > 0.5).toLong
      assert(n == rows.length.toLong, bin)
      assert(pos == p, bin)
      assert(frac == p.toDouble / rows.length.toDouble, bin)
      assert(mean == dsum(rows.map(_._2)) / rows.length.toDouble, bin)
    }
    // the table justifies the 0.5 gate: bins at/above it are
    // overwhelmingly positive, strictly more so than the bins below
    val hi = got.filter(_._1 >= 5).values
    val lo = got.filter(_._1 < 5).values
    assert(hi.nonEmpty && lo.nonEmpty)
    val hiRate = hi.map(_._2).sum.toDouble / hi.map(_._1).sum.toDouble
    val loRate = lo.map(_._2).sum.toDouble / lo.map(_._1).sum.toDouble
    assert(hiRate > 0.9 && hiRate > loRate,
      s"calibration does not separate: hi=$hiRate lo=$loRate")
  }

  test("curate_learned = probe-kept ∩ english ∩ non-dup") {
    val pk = Quality.qualityProbe(spark, Sf).where(col("pred"))
      .select("doc_id").collect().map(_.getAs[Long]("doc_id")).toSet
    val en = TextOps.langId(spark, Sf)
      .where(col("lang_pred") === "en")
      .select("doc_id").collect().map(_.getAs[Long]("doc_id")).toSet
    val dup = Dedup.minhashLsh(spark, Sf)
      .select("doc_b").collect().map(_.getAs[Long]("doc_b")).toSet
    val want = (pk intersect en) diff dup
    val got = Curation.curateLearned(spark, Sf)
      .select("doc_id").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < 500)
    // the learned gate must actually be the PROBE's decision: every
    // kept doc carries the probe's score
    val scored = Curation.curateLearned(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val probeScores = Quality.qualityProbe(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    scored.foreach { case (id, s) => assert(probeScores(id) == s) }
  }

  test("keep_scored: per cluster the highest-probe-score copy survives") {
    val score = Quality.qualityProbe(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val cl = Dedup.clusters(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val got = Quality.dedupKeepScored(spark, Sf).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("rep_doc_id"), r.getAs[Double]("rep_score"), r.getAs[Long]("n_members")))).toMap
    val want = cl.filter(m => score.contains(m._1)).groupBy(_._2)
      .map { case (cid, ms) =>
        val best = ms.map(_._1).minBy(id => (-score(id), id))
        cid -> ((best, score(best), ms.size.toLong))
      }
    assert(got == want)
    // the two policies pick from the same clusters but CAN disagree —
    // the scored policy must still emit one rep per cluster
    val byLen = Dedup.keepBest(spark, Sf).collect()
      .map(r => r.getAs[Long]("cluster_id")).toSet
    assert(got.keySet == byLen)
  }

  test("quality_eval fits on the train split and generalizes") {
    val rows = Curation.qualityEval(spark, Sf).collect()
      .map(r => r.getAs[String]("split") -> r).toMap
    assert(rows.keySet == Set("train", "val", "test"))
    val featN = Quality.qualityProbe(spark, Sf).count()
    assert(rows.values.map(_.getAs[Long]("n")).sum == featN,
      "every feature row lands in exactly one split")
    val accT = rows("train").getAs[Double]("acc")
    assert(accT >= 0.6, s"train acc $accT — the probe should learn")
    // the held-out bands: val/test accuracy within a sane distance of
    // train (a leak-free linear probe on 6 features cannot overfit far)
    Seq("val", "test").foreach { s =>
      val acc = rows(s).getAs[Double]("acc")
      assert(math.abs(acc - accT) <= 0.3, s"$s acc $acc vs train $accT")
    }
  }

  test("quality_eval report is partition-count independent") {
    def run(parts: Int) =
      Curation.qualityEvalOf(docs.repartition(parts)).collect()
        .map(r => (r.getAs[String]("split"), r.getAs[Long]("n"), r.getAs[Double]("acc"),
          r.getAs[Double]("pos_rate"), r.getAs[Double]("tpr"), r.getAs[Double]("tnr")))
        .sortBy(_._1)
    val a = run(3)
    val b = run(17)
    // NaN != NaN under ==, so compare the rendered rows
    assert(a.map(_.toString) sameElements b.map(_.toString))
  }

  test("SGD classifier is run-to-run deterministic (pinned parts) " +
      "and learns both classes") {
    spark.conf.set("graft.sgd.numPartitions", "4")
    try {
      val r1 = Quality.qualityTrainOf(docs).collect()(0)
      val r2 = Quality.qualityTrainOf(docs).collect()(0)
      assert(r1 == r2, "same corpus + pinned parts ⇒ identical row")
      val tpr = r1.getAs[Double]("tpr")
      val tnr = r1.getAs[Double]("tnr")
      val acc = r1.getAs[Double]("train_acc")
      val pos = r1.getAs[Double]("pos_rate")
      assert(r1.getAs[Long]("n_features") == Quality.TrainDims.toLong)
      // the majority-class collapse this entry exists to beat:
      // tpr 1/tnr 0. Oversampled training must recover real negatives
      // without giving up the positive class.
      assert(tnr >= 0.5, s"tnr $tnr")
      assert(tpr >= 0.6, s"tpr $tpr")
      assert(acc > 0.0 && pos > 0.0 && pos < 1.0)
    } finally spark.conf.unset("graft.sgd.numPartitions")
  }

  test("non-power-of-two shard count fails loudly (stride alias guard)") {
    // P = 48 passes a gcd(11, P) = 1 check — the guard must reject it
    // anyway, exactly as its error message demands (the TrainIdStride
    // layout argument is only verified for power-of-two P, and the
    // failure mode it prevents is a silent tpr 1.0 / tnr 0.0 collapse)
    spark.conf.set("graft.sgd.numPartitions", "48")
    try {
      val e = intercept[IllegalArgumentException] {
        Quality.qualityTrainOf(docs).collect()
      }
      assert(e.getMessage.contains("power of two"), e.getMessage)
    } finally spark.conf.unset("graft.sgd.numPartitions")
  }

  test("DECIMAL→BIGINT audit guard raises past contract, never wraps") {
    import graft.functions.StableSum.checkedLong
    val d = spark.range(1).select(
      expr("CAST(9223372036854775807 AS DECIMAL(38,0)) * 3").as("over"),
      expr("CAST(-9223372036854775807 AS DECIMAL(38,0))").as("edge"),
      expr("CAST(NULL AS DECIMAL(38,0))").as("nul"))
    // in-contract value narrows exactly (|c| = Long.MaxValue passes)
    assert(d.select(checkedLong(col("edge"), "t").as("v"))
      .collect()(0).getLong(0) == -Long.MaxValue)
    // past contract Spark must FAIL like the DuckDB oracle's
    // HUGEINT→BIGINT cast does, not wrap: the non-ANSI cast alone
    // would return a silently wrapped BIGINT here
    val eOver = intercept[Exception] {
      d.select(checkedLong(col("over"), "tv_num")).collect()
    }
    assert(eOver.getMessage.contains("exceeds BIGINT"),
      s"wrong failure: ${eOver.getMessage}")
    // NULL (empty aggregate, or a DECIMAL(38,0) sum that overflowed to
    // NULL under non-ANSI mode) raises its own distinct message — it
    // must not fall through to the misleading exceeds-BIGINT branch,
    // and must not propagate silently
    val eNull = intercept[Exception] {
      d.select(checkedLong(col("nul"), "tv_num")).collect()
    }
    assert(eNull.getMessage.contains("is NULL"),
      s"wrong failure: ${eNull.getMessage}")
  }

  test("uncertainty sample recounts from the probe scores, rank prunes") {
    val scored = Quality.qualityProbe(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val expect = scored
      .map { case (id, s) => (id, s, math.abs(s - 0.5)) }
      .sortBy { case (id, _, m) => (m, id) }
      .take(Quality.UncertainTopK)
      .zipWithIndex.map { case ((id, s, m), i) =>
        (id, s, m, (i + 1).toLong) }.toSeq
    val df = Quality.uncertaintySample(spark, Sf)
    val got = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Double]("margin"), r.getAs[Long]("rk")))
      .sortBy(_._4).toSeq
    assert(got == expect)
    // the global rank-<=-k never sorts the corpus: Spark compiles it
    // to per-partition bounded heaps (TakeOrderedAndProject) or a
    // WindowGroupLimit — either way no full Sort node feeds the window
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject")
      || plan.contains("WindowGroupLimit"), plan)
  }

  test("aucOf matches the brute-force pair count, ties included") {
    // synthetic scored set with deliberate pos/neg score ties and
    // duplicate scores within a class — every branch of the ½-credit
    // arithmetic — checked against the O(n²) definition
    val s = spark; import s.implicits._
    val rows = Seq(
      (1.0, 0.9), (1.0, 0.7), (1.0, 0.5), (1.0, 0.5), (1.0, 0.2),
      (0.0, 0.8), (0.0, 0.5), (0.0, 0.5), (0.0, 0.3), (0.0, 0.3),
      (0.0, 0.1))
    val pos = rows.filter(_._1 > 0.5).map(_._2)
    val neg = rows.filter(_._1 < 0.5).map(_._2)
    val num2 = (for { p <- pos; n <- neg } yield
      if (p > n) 2L else if (p == n) 1L else 0L).sum
    val got = Quality.aucOf(
        rows.toDF("label", "score").repartition(5))
      .collect().head
    assert(got.getAs[Long]("n_pos") == pos.length.toLong)
    assert(got.getAs[Long]("n_neg") == neg.length.toLong)
    assert(got.getAs[Long]("auc_num2") == num2)
    // auc_fp9: floor fixed-point of num2 / (2·n⁺·n⁻), BIGINT exact
    assert(got.getAs[Long]("auc_fp9") ==
      (BigInt(num2) * 1000000000 /
        (BigInt(2) * pos.length * neg.length)).toLong)
    assert(got.getAs[Double]("auc") ==
      num2.toDouble / (2.0 * pos.length * neg.length))
  }

  test("labelAgreement matches the scalar kappa definition") {
    val g = Quality.labelAgreement(spark, Sf).collect().head
    val (n, agree, ap, bp) =
      (g.getAs[Long]("n"), g.getAs[Long]("n_agree"),
        g.getAs[Long]("a_pos"), g.getAs[Long]("b_pos"))
    assert(n > 0 && agree <= n && ap <= n && bp <= n)
    val pe = BigInt(ap) * bp + BigInt(n - ap) * (n - bp)
    val num = BigInt(n) * agree - pe
    val den = BigInt(n) * n - pe
    assert(BigInt(g.getAs[Long]("kappa_num")) == num)
    assert(BigInt(g.getAs[Long]("kappa_den")) == den)
    // kappa_fp9 = sign(num) · ⌊|num|·10⁹ / den⌋ — sign-split floor so a
    // negative κ truncates toward zero identically in both engines
    assert(den > 0, "fixture must have a nonzero kappa denominator")
    val fp9 = (if (num < 0) BigInt(-1) else BigInt(1)) *
      (num.abs * 1000000000 / den)
    assert(g.getAs[Long]("kappa_fp9") == fp9.toLong)
    assert(g.getAs[Double]("kappa") ==
      num.toDouble / den.toDouble)
    // κ must be chance-corrected: strictly below raw agreement in the
    // imbalanced fixture regime, and a real number
    assert(!g.getAs[Double]("kappa").isNaN &&
      g.getAs[Double]("kappa") < agree.toDouble / n)
  }

  test("qualityBrier replays MSE and the ECE bin fold") {
    val r = Quality.qualityBrier(spark, Sf).collect().head
    val (n, mse, ece) = (r.getAs[Long]("n"), r.getAs[Double]("mse"), r.getAs[Double]("ece"))
    // MSE against the scored table via the same quantized-sum recipe
    val sc = Quality.qualityProbe(spark, Sf)
      .select(col("label"), col("score")).collect()
      .map(x => (x.getAs[Double]("label"), x.getAs[Double]("score")))
    assert(n == sc.length.toLong)
    val qsum = sc.map { case (y, s) =>
      BigInt(math.floor((s - y) * (s - y) * 1e12).toLong) }.sum
    assert(mse == qsum.toDouble / 1e12 / n)
    // ECE against the calibration entry's own bins
    val cal = Quality.qualityCalibration(spark, Sf).collect()
      .map(x => (x.getAs[Long]("n_docs"), x.getAs[Double]("frac_pos"), x.getAs[Double]("mean_score")))
    val nb = cal.map(_._1).sum
    val tq = cal.map { case (nd, fp, ms) =>
      BigInt(math.floor(nd.toDouble * math.abs(fp - ms) * 1e12).toLong)
    }.sum
    assert(ece == tq.toDouble / 1e12 / nb)
    assert(mse >= 0.0 && ece >= 0.0 && ece <= 1.0)
  }

  test("prefPairs: chosen is the cluster's keep-best, strict margins") {
    val pairs = Quality.prefPairs(spark, Sf).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("chosen_doc_id"), r.getAs[Long]("rejected_doc_id"),
        r.getAs[Double]("chosen_score"), r.getAs[Double]("rejected_score"), r.getAs[Double]("margin")))
    assert(pairs.nonEmpty)
    val best = Quality.dedupKeepScored(spark, Sf).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("rep_doc_id"), r.getAs[Double]("rep_score"),
        r.getAs[Long]("n_members")))
      .map { case (cid, rep, sc, n) => cid -> ((rep, sc, n)) }.toMap
    pairs.foreach { case (cid, ch, rj, cs, rs, m) =>
      val (rep, repScore, _) = best(cid)
      assert(ch == rep && cs == repScore)
      assert(ch != rj && cs > rs && m == cs - rs && m > 0.0)
    }
    // pair count per cluster ≤ members − 1 (ties with the chosen drop)
    val byC = pairs.groupBy(_._1).map { case (c, xs) => c -> xs.length }
    byC.foreach { case (cid, n) => assert(n <= best(cid)._3 - 1) }
  }

  test("aucOf label-flip symmetry: auc + auc_flipped == 1 exactly") {
    // with midrank tie credit, flipping every label complements the
    // pair count: num2 + num2_flipped == 2·n_pos·n_neg — an exact
    // integer identity the DECIMAL arithmetic must preserve
    val scored = Quality.qualityProbe(spark, Sf)
      .select(col("label"), col("score"))
    val a = Quality.aucOf(scored).collect().head
    val b = Quality.aucOf(
      scored.select((lit(1.0) - col("label")).as("label"), col("score")))
      .collect().head
    val num2 = BigInt(a.getAs[Long]("auc_num2"))
    val num2f = BigInt(b.getAs[Long]("auc_num2"))
    assert(num2 + num2f ==
      BigInt(2) * a.getAs[Long]("n_pos") * a.getAs[Long]("n_neg"))
    assert(a.getAs[Long]("n_pos") == b.getAs[Long]("n_neg") &&
      a.getAs[Long]("n_neg") == b.getAs[Long]("n_pos"))
  }

  test("aucOf is partition-count and bucket-boundary independent") {
    // ANY quantile split set must refine to the same exact pair count
    val s = spark; import s.implicits._
    val scored = Quality.qualityProbe(spark, Sf)
      .select(col("label"), col("score"))
    val a = Quality.aucOf(scored.repartition(3)).collect().head
    val b = Quality.aucOf(scored.repartition(29)).collect().head
    assert(a.getAs[Long]("auc_num2") == b.getAs[Long]("auc_num2") &&
      a.getAs[Long]("auc_fp9") == b.getAs[Long]("auc_fp9") &&
      a.getAs[Double]("auc") == b.getAs[Double]("auc"))
    assert(a.getAs[Double]("auc") > 0.5,
      s"probe should rank better than chance, got ${a.getAs[Double]("auc")}")
  }

  test("trained-gate metrics serve from the session cache") {
    val a = Quality.qualityTrain(spark, Sf)
    assert(a eq Quality.qualityTrain(spark, Sf),
      "repeated qualityTrain calls re-ran the SGD training pass")
    val rows = a.collect().toSeq
    SessionCache.invalidate(spark, Sf)
    val b = Quality.qualityTrain(spark, Sf)
    assert(!(b eq a), "invalidate left the trained gate cached")
    assert(b.collect().toSeq == rows,
      "a retrained gate diverged from the deterministic fit")
  }
}

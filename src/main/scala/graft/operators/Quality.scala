package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** Trained quality classification — the model-in-the-loop quality gate of
  * a production training-data pipeline (the KenLM / fastText-classifier
  * role): instead of scoring documents with FIXED weights
  * ([[Similarity.classifyOf]]) or hand-set thresholds
  * ([[TextOps.qualityScoreOf]]), LEARN the scorer from the corpus and
  * apply it back. Two trainers, deliberately different trade-offs:
  *
  *  1. [[qualityProbe]] — a linear probe over the 5 interpretable
  *     quality signals (token count, distinct ratio, stopword ratio,
  *     duplicate/top bigram fractions), trained by FULL-BATCH gradient
  *     descent with class-weighted squared loss. Every arithmetic step
  *     is order-independent (per-row IEEE double expressions with a
  *     pinned evaluation order + DECIMAL(24,6) gradient sums, which are
  *     exact and commutative), so the learned θ — and therefore every
  *     score — is bit-identical across partitionings AND across engines:
  *     the DuckDB oracle replays the whole training loop as unrolled
  *     MATERIALIZED CTEs and the gate hash-checks train → score
  *     END-TO-END. Scale shape: one narrow feature table (6 doubles per
  *     doc) materialized once, then one scan + tiny aggregate per epoch
  *     (driver state = 6 doubles); the corpus itself is read once.
  *
  *  2. [[qualityTrain]] — the reference's per-record SGD
  *     (multilinereg.java:41-97 via [[Sgd.fit]], M3-M5 in SURVEY §2)
  *     on 256-dim hashed bag-of-bigrams frequency vectors
  *     ([[Dedup.bowVecKernel]], the same features the near-dup pass
  *     uses). Per-record sequential updates are partition-order
  *     dependent, so like the `sgd_*` θ entries this is deterministic
  *     for a pinned partition count but not SQL-expressible → rows-only
  *     gate + spec-pinned parity, by the same documented design.
  *
  * Labels for both: the combined hand-set gate (quality_pass AND
  * rep_pass) — the trained models learn to IMITATE the rule-based gate,
  * which is exactly how a production pipeline bootstraps a classifier
  * from heuristics before human labels exist.
  */
object Quality {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  // ---- linear probe (batch GD, oracle-replayable) ----------------------

  /** Probe hyper-parameters. lr/weights chosen on the fixture: balanced
    * accuracy ≈ 0.81 at 8 epochs (majority-class predictor = 0.5
    * balanced); lr ≥ 1 diverges (squared loss, unnormalized features).
    * NegWeight counters the ≈ 9:1 pass:fail imbalance — unweighted, the
    * probe collapses to the majority class.
    */
  val ProbeLr = 0.5
  val ProbeEpochs = 8
  val ProbeNegWeight = 8.0
  val ProbeDims = 6

  /** Per-doc feature row: label y ∈ {0.0, 1.0} and f0..f5 =
    * (bias, n_tokens/100, distinct_ratio, stopword_ratio,
    * dup_bigram_frac, top_bigram_frac). Docs with < 2 tokens have no
    * bigram facts and drop out (inner join) — mirrored by the oracle.
    */
  def probeFeaturesOf(corpus: DataFrame): DataFrame = {
    val q = TextOps.qualityScoreOf(corpus)
    val r = TextOps.repNgramsOf(corpus)
      .select(col("doc_id"), col("dup_bigram_frac"),
        col("top_bigram_frac"), col("rep_pass"))
    q.join(r, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("quality_pass") && col("rep_pass"), 1.0)
          .otherwise(0.0).as("y"),
        lit(1.0).as("f0"),
        (col("n_tokens").cast("double") / 100.0).as("f1"),
        col("distinct_ratio").as("f2"),
        col("stopword_ratio").as("f3"),
        col("dup_bigram_frac").as("f4"),
        col("top_bigram_frac").as("f5"))
  }

  /** θ·x with a PINNED left-to-right association:
    * ((((th0*f0 + th1*f1) + th2*f2) + …). The oracle writes the same
    * chain, so the double result is bit-identical.
    */
  private[operators] def scoreCol(theta: Array[Double]): Column =
    theta.toIndexedSeq.zipWithIndex
      .map { case (t, j) => lit(t) * col(s"f$j") }
      .reduceLeft(_ + _)

  /** One full-batch epoch: θ_j ← θ_j + lr·(G_j / n) with
    * G_j = Σ DECIMAL(24,6)(werr·f_j), werr = (y − θ·x)·w,
    * w = 1 for positives / [[ProbeNegWeight]] for negatives. The DECIMAL
    * cast makes the sum exact → order-independent → reproducible under
    * ANY partitioning (and in DuckDB); everything else is per-row double
    * arithmetic with pinned order.
    */
  private[operators] def fitProbe(feat: DataFrame): Array[Double] = {
    var theta = new Array[Double](ProbeDims)
    var e = 0
    while (e < ProbeEpochs) {
      val werr = (col("y") - scoreCol(theta)) *
        when(col("y") > 0.5, 1.0).otherwise(ProbeNegWeight)
      val aggs = (0 until ProbeDims).map(j =>
        sum((werr * col(s"f$j")).cast("decimal(24,6)"))
          .cast("double").as(s"g$j")) :+ count(lit(1)).as("n")
      val row = feat.agg(aggs.head, aggs.tail: _*).head()
      val n = row.getLong(ProbeDims).toDouble
      theta = Array.tabulate(ProbeDims)(j =>
        theta(j) + ProbeLr * (row.getDouble(j) / n))
      e += 1
    }
    theta
  }

  /** Session-lifetime (feature table, learned θ) per (session, dir) —
    * the [[Apriori.itemsetSupports]] cache pattern: the probe and gate
    * entries are invoked independently by Verify/Bench, and without this
    * each invocation would re-checkpoint the feature table AND re-run
    * the 8 training scans (accumulating orphaned checkpoint blocks).
    * Same lifetime contract: immutable fixture dirs, or invalidate at
    * the boundary.
    */
  private val probeCache = new graft.SessionCache[
    String, (DataFrame, Array[Double])](v => Materialize.release(v._1))

  private def trainedProbe(spark: SparkSession, dir: String)
      : (DataFrame, Array[Double]) =
    probeCache.getOrBuild(spark, dir) {
      val feat =
        Materialize.session(spark)(probeFeaturesOf(docs(spark, dir)))
      (feat, fitProbe(feat))
    }

  /** The session-cached checkpointed feature table — shared with the
    * leakage-safe evaluation composition ([[Curation]]'s
    * `llm_quality_eval`), which re-fits the probe on the train split
    * over the SAME materialization.
    */
  private[operators] def probeFeatures(spark: SparkSession, dir: String)
      : DataFrame = trainedProbe(spark, dir)._1

  def invalidateProbe(spark: SparkSession = null, dir: String = null)
      : Unit = {
    probeCache.invalidate(spark, k => dir == null || k == dir)
    trainCache.invalidate(spark, k => dir == null || k._1 == dir)
    // The released feature checkpoint has no lineage fallback, so every
    // cache holding a DataFrame DERIVED from it must drop too —
    // Curation's eval report is the one such dependent (full-suite runs
    // hit CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on its stale entry before
    // this cascade existed).
    Curation.invalidateEval(spark, dir)
  }

  /** Train the probe and score every document:
    * (doc_id, label, score, pred). `pred` = score > 0.5 — the learned
    * quality gate.
    */
  def qualityProbe(spark: SparkSession, dir: String): DataFrame = {
    val (feat, theta) = trainedProbe(spark, dir)
    scoreProbe(feat, theta)
  }

  def qualityProbeOf(corpus: DataFrame,
                     mat: Materialize.Strategy = Materialize.Local)
      : DataFrame = {
    // one materialization feeds all 8 epoch scans + the final scoring
    val feat = mat(probeFeaturesOf(corpus))
    scoreProbe(feat, fitProbe(feat))
  }

  private def scoreProbe(feat: DataFrame, theta: Array[Double])
      : DataFrame = {
    val s = scoreCol(theta)
    feat.select(col("doc_id"), col("y").as("label"), s.as("score"),
      (s > 0.5).as("pred"))
  }

  /** The learned gate applied: documents the probe keeps. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityProbe(spark, dir)
      .where(col("pred"))
      .select(col("doc_id"), col("score"))

  // ---- SGD classifier on hashed bag-of-bigrams (reference M3-M5) -------

  /** SGD feature width: bias + 256 hashed-bigram frequencies + the 5
    * scalar quality signals (f1..f5 of [[probeFeaturesOf]]).
    */
  val TrainDims: Int = Dedup.BowDims + 6

  /** Bias + L1-normalized 256-dim hashed bag-of-bigrams frequencies +
    * the 5 interpretable quality scalars. Normalizing the bigram counts
    * bounds their magnitudes so the reference's fixed α = 0.03 is
    * stable at any document length — but it also erases length itself,
    * which is the label's dominant signal, so the scalar features carry
    * it (without them the classifier collapses to the majority class:
    * measured train_acc == pos_rate).
    */
  private def bowObs(corpus: DataFrame) = {
    val spark = corpus.sparkSession
    val s = spark; import s.implicits._
    val lab = probeFeaturesOf(corpus)
    Dedup.bowVecKernel(corpus)
      .join(lab, col("vec_id") === col("doc_id"))
      .select(col("doc_id"), col("y"), col("e"),
        array((1 to 5).map(j => col(s"f$j")): _*).as("fs"))
      .as[(Long, Double, Array[Double], Array[Double])]
      .map { case (id, y, e, fs) =>
        val t = e.sum
        val x = if (t > 0) e.map(_ / t) else e
        Sgd.Obs(id, y, (1.0 +: x) ++ fs)
      }
  }

  /** Session-lifetime trained-gate metrics per (session, dir) — the
    * [[graft.operators.Sgd]] thetaCache discipline: the O(epochs) SGD
    * loop is a once-per-snapshot training pass, and the cached value is
    * the 1-row LocalRelation [[qualityTrainOf]] already computed
    * eagerly (its persisted inputs are unpersisted before return, so
    * there is no executor state to release). The key carries the shard
    * count like [[graft.operators.Sgd]]'s thetaCache — the `id % P`
    * fold layout is part of the model's semantics, so a
    * `graft.sgd.numPartitions` conf change trains fresh. Dropped by
    * [[invalidateProbe]] with the rest of the per-dir model state; the
    * `…Of` form stays cache-free.
    */
  private val trainCache =
    new graft.SessionCache[(String, Int), DataFrame](_ => ())

  /** Train the reference-shaped SGD logistic classifier on the corpus
    * and report the run: ONE summary row (n_docs, n_features,
    * iterations, converged, train accuracy, label base rate). Fully
    * oracle-bound: [[Sgd.shard]]'s explicit `id % P` membership and the
    * table-sigmoid make the per-record fold engine-replayable
    * ([[trainOracleSql]]); the spec additionally pins run-to-run
    * determinism and that the classifier beats the trivial all-pass
    * predictor's error profile. Served from [[trainCache]].
    */
  def qualityTrain(spark: SparkSession, dir: String): DataFrame =
    trainCache.getOrBuild(spark, (dir, Sgd.numPartsOr(spark, TrainShards)))(
      qualityTrainOf(docs(spark, dir)))

  /** Deterministic negative-class oversampling factor for the SGD
    * training pass: ≈ the fixture's 9:1 pass:fail imbalance (the same
    * counterweight the probe applies as [[ProbeNegWeight]]). Data-side
    * on purpose — [[Sgd.fit]] keeps the reference's exact per-record
    * semantics, and repeating a record k times IS k sequential updates.
    * Without it the classifier collapses to all-positive (measured
    * tpr = 1.0, tnr = 0.0). Copy ids are remapped by [[TrainIdStride]]
    * so they stay unique and deterministic WITHOUT aliasing the shard
    * rule.
    */
  val TrainNegOversample = 8

  /** Id stride for the oversample remap: every doc gets id·11, copy r
    * of a negative id·11 + r. Two failure modes this dodges, both
    * measured as a tpr 1.0 / tnr 0.0 collapse:
    *  - `id·k + r` (k = 8) aliases the `id % P` shard rule — id·8 ≡ 0
    *    (mod 8) confines every positive to the multiples-of-8 shards
    *    and leaves most shards pure-negative;
    *  - a large copy OFFSET (id + r·2⁴⁰) sorts every negative copy
    *    AFTER every positive, and under per-record snapshot averaging
    *    the tail of a fold barely influences θ.
    * 11 > k keeps ids unique, and 11 being coprime with every power of
    * two keeps `id·11 % P` a bijection of the uniform doc ids for the
    * default 32 and the spec's 4; copies stay ADJACENT to their
    * original's position in the id sort, interleaved with the
    * positives. The trainer REQUIRES a power-of-two P outright (not
    * merely gcd(11, P) = 1, which a P like 48 or 96 would satisfy while
    * drifting off the analyzed layout): the adjacency/interleaving
    * argument above is only verified for power-of-two shard counts, and
    * the collapse mode it guards against (tpr 1.0 / tnr 0.0) is silent.
    */
  val TrainIdStride = 11

  /** The trainer's own default shard count — NOT [[Sgd.DefaultShards]]:
    * at 500 fixture documents, 512 shards would degenerate to ~2-record
    * folds (near-batch mixing) and the per-class recalls the spec gates
    * on. 32 keeps the r10 learning dynamics; the conf still overrides.
    */
  val TrainShards = 32

  def qualityTrainOf(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    val s = spark; import s.implicits._
    val parts = Sgd.numPartsOr(spark, TrainShards)
    // the [[TrainIdStride]] remap's layout argument is only verified
    // for power-of-two shard counts — enforce exactly what the message
    // demands (a gcd(11, P) = 1 check would wave through P = 48/96,
    // see the TrainIdStride docstring) rather than silently
    // re-collapsing the classifier
    require(parts > 0 && Integer.bitCount(parts) == 1,
      s"graft.sgd.numPartitions=$parts is not a power of two; the " +
        s"oversample stride $TrainIdStride layout requires one")
    val obs = Sgd.shard(bowObs(corpus), parts).persist()
    val k = TrainNegOversample
    val trainSet = Sgd.shard(
      obs.flatMap(o =>
        if (o.y < 0.5)
          (0 until k).map(r => o.copy(id = o.id * TrainIdStride + r))
        else Seq(o.copy(id = o.id * TrainIdStride))),
      parts)
    try {
      val r = Sgd.fit(trainSet, TrainDims, logistic = true, parts)
      // score through the codegen'd dot Expression — the same scoring
      // path a 100 TB deployment runs (weights are plan literals, the
      // corpus never shuffles)
      val margin = graft.functions.DotProduct.dot(
        spark, col("x"), typedLit(r.theta.toSeq))
      val hit = (margin > 0.0) === (col("y") > 0.5)
      val m = obs.toDF()
        .select(
          count(lit(1)).as("n"),
          avg(when(hit, 1.0).otherwise(0.0)).as("acc"),
          avg(col("y")).as("pos_rate"),
          // per-class recalls: the numbers that expose a majority-class
          // collapse that plain accuracy hides at a 9:1 base rate
          // try_divide + NaN (not `/` → ANSI error, nor null → NPE at
          // getDouble) when a class is absent: only the fixture
          // guarantees both classes for the public qualityTrainOf API
          coalesce(try_divide(
            sum(when(hit && col("y") > 0.5, 1L).otherwise(0L))
              .cast("double"),
            sum(when(col("y") > 0.5, 1L).otherwise(0L)).cast("double")),
            lit(Double.NaN)).as("tpr"),
          coalesce(try_divide(
            sum(when(hit && col("y") < 0.5, 1L).otherwise(0L))
              .cast("double"),
            sum(when(col("y") < 0.5, 1L).otherwise(0L)).cast("double")),
            lit(Double.NaN)).as("tnr"))
        .head()
      Seq((m.getLong(0), TrainDims.toLong, r.iterations.toLong,
        r.converged, m.getDouble(1), m.getDouble(2), m.getDouble(3),
        m.getDouble(4)))
        .toDF("n_docs", "n_features", "iterations", "converged",
          "train_acc", "pos_rate", "tpr", "tnr")
    } finally obs.unpersist(): Unit
  }

  // ---- oracle ----------------------------------------------------------

  /** The probe's feature table in DuckDB, composed from the ALREADY
    * hash-verified per-doc oracles (nested-WITH derived tables, the
    * llm_sim_recall pattern) so the feature definitions can never drift
    * between the two entries.
    */
  private def featSql: String = {
    val q = TextOps.oracle("llm_quality_score")
    val r = TextOps.oracle("llm_rep_ngrams")
    // every numeric literal is cast ::DOUBLE — DuckDB parses bare
    // decimal literals as DECIMAL, which would change column dtypes
    "feat AS MATERIALIZED (\n" +
      "  SELECT q.doc_id,\n" +
      "    CAST(CASE WHEN q.quality_pass AND r.rep_pass\n" +
      "         THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,\n" +
      "    1.0::DOUBLE AS f0, q.n_tokens::DOUBLE / 100.0 AS f1,\n" +
      "    q.distinct_ratio AS f2, q.stopword_ratio AS f3,\n" +
      "    r.dup_bigram_frac AS f4, r.top_bigram_frac AS f5\n" +
      s"  FROM ($q) q JOIN ($r) r USING (doc_id))"
  }

  /** θ·x chain with the same left-to-right association as [[scoreCol]],
    * reading θ from epoch-CTE columns.
    */
  private[operators] def scoreSql(t: String, f: String): String =
    (0 until ProbeDims).map(j => s"$t.th$j*$f.f$j").mkString(" + ")

  /** The full training loop unrolled: per epoch a scored CTE (werr), a
    * gradient CTE (DECIMAL-exact sums), and a θ-update CTE — all
    * MATERIALIZED (the BPE lesson: DuckDB inlines plain chained CTEs
    * exponentially). t0 = zeros; the final SELECT scores with t{E}.
    *
    * `trainRel` is the relation the epoch scans read (default: the
    * whole feature table); `extra` injects additional CTEs between
    * `feat` and `t0` — together they let the leakage-safe evaluation
    * oracle ([[Curation]]'s `llm_quality_eval`) train on a split-
    * filtered CTE while scoring everything.
    */
  private[operators] def probeCtes(trainRel: String = "feat",
      extra: String = ""): String = {
    val zeros = (0 until ProbeDims).map(j => s"0.0::DOUBLE AS th$j")
      .mkString(", ")
    val steps = (1 to ProbeEpochs).map { i =>
      val grads = (0 until ProbeDims).map(j =>
        s"CAST(SUM(CAST(werr*f$j AS DECIMAL(24,6))) AS DOUBLE) AS g$j")
        .mkString(",\n    ")
      val upd = (0 until ProbeDims).map(j =>
        s"t.th$j + $ProbeLr*(g.g$j/g.n::DOUBLE) AS th$j")
        .mkString(",\n    ")
      s"""s$i AS MATERIALIZED (
  SELECT f.*, (f.y - (${scoreSql("t", "f")}))
    * CASE WHEN f.y > 0.5 THEN 1.0 ELSE $ProbeNegWeight END AS werr
  FROM $trainRel f, t${i - 1} t),
g$i AS MATERIALIZED (
  SELECT $grads,
    count(*)::BIGINT AS n FROM s$i),
t$i AS MATERIALIZED (
  SELECT $upd
  FROM t${i - 1} t, g$i g)"""
    }
    val ex = if (extra.isEmpty) "" else s"$extra,\n"
    s"WITH $featSql,\n${ex}t0 AS (SELECT $zeros),\n${steps.mkString(",\n")}"
  }

  private def probeOracleSql: String =
    s"""${probeCtes()}
SELECT doc_id, label, score, score > 0.5 AS pred FROM (
  SELECT f.doc_id, f.y AS label, ${scoreSql("t", "f")} AS score
  FROM feat f, t$ProbeEpochs t)"""

  private def gateOracleSql: String =
    s"""${probeCtes()}
SELECT doc_id, score FROM (
  SELECT f.doc_id, ${scoreSql("t", "f")} AS score
  FROM feat f, t$ProbeEpochs t)
WHERE score > 0.5"""

  // ---- contract --------------------------------------------------------

  /** Score-policy dedup survivor selection — [[Dedup.keepScoredOf]]
    * driven by the trained probe's score (which rides the session
    * probe cache): per near-dup cluster, the highest-QUALITY copy
    * survives. The learned-model-as-policy counterpart to
    * `llm_dedup_keep_best`'s most-tokens rule.
    */
  def dedupKeepScored(spark: SparkSession, dir: String): DataFrame =
    Dedup.keepScoredOf(
      qualityProbe(spark, dir).select(col("doc_id"), col("score")),
      Dedup.clusters(spark, dir))

  private def keepScoredOracleSql: String =
    s"""${probeCtes()},
sc AS (SELECT f.doc_id, ${scoreSql("t", "f")} AS score
       FROM feat f, t$ProbeEpochs t),
cl AS (SELECT * FROM (${Dedup.oracle("llm_dedup_clusters")}) c0)
SELECT cluster_id, doc_id AS rep_doc_id, score AS rep_score, n_members
FROM (
  SELECT cl.cluster_id, cl.doc_id, sc.score,
    count(*) OVER (PARTITION BY cl.cluster_id)::BIGINT AS n_members,
    row_number() OVER (PARTITION BY cl.cluster_id
      ORDER BY sc.score DESC, cl.doc_id) AS rn
  FROM cl JOIN sc USING (doc_id))
WHERE rn = 1"""

  /** The probe's squared-error loss and expected calibration error —
    * the two scalars that complete the classifier metrology next to
    * accuracy/TPR/TNR ([[qualityTrainOf]]), AUC ([[aucOf]]) and the
    * full reliability table ([[qualityCalibration]]): `mse` is the
    * Brier-style mean squared error of the raw score against the 0/1
    * label, and `ece` the calibration-bin-weighted |empirical positive
    * rate − mean predicted score| (Naeini et al. AAAI '15), read
    * straight off the SAME clamped-decile bins the calibration entry
    * reports — one number summarizing the reliability table.
    *
    * Determinism: the per-row squared error rides the dsum
    * DECIMAL-stable quantized sum; the ECE accumulates ≤ [[CalibBins]]
    * bin terms through the same recipe, so both doubles hash
    * bit-identically. One corpus aggregation + one ≤ 10-row fold.
    */
  def qualityBrier(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableSum.dsum
    val base = qualityProbe(spark, dir)
    val mse = base.agg(count(lit(1)).as("n"),
      (dsum((col("score") - col("label")) * (col("score") - col("label")))
        / count(lit(1)).cast("double")).as("mse"))
    val ece = qualityCalibration(spark, dir)
      .select(col("n_docs"),
        (col("n_docs").cast("double")
          * abs(col("frac_pos") - col("mean_score"))).as("term"))
      .agg(sum(col("n_docs")).as("nb"), dsum(col("term")).as("tsum"))
      .select((col("tsum") / col("nb").cast("double")).as("ece"))
    mse.crossJoin(ece)
  }

  private def brierOracleSql: String =
    s"""${probeCtes()},
sc AS (SELECT f.y AS label, ${scoreSql("t", "f")} AS score
       FROM feat f, t$ProbeEpochs t),
m AS (SELECT count(*)::BIGINT AS n,
        ${graft.functions.StableSum
      .dsumSql("(score - label) * (score - label)")}
          / count(*)::DOUBLE AS mse
      FROM sc),
b AS (SELECT label, score,
        CAST(least(${CalibBins - 1}.0e0, greatest(0.0e0,
          floor(score * 10.0e0))) AS BIGINT) AS bin
      FROM sc),
cal AS (SELECT bin, count(*)::BIGINT AS n_docs,
        sum(CASE WHEN label > 0.5 THEN 1 ELSE 0 END)::DOUBLE
          / count(*)::DOUBLE AS frac_pos,
        ${graft.functions.StableSum.dsumSql("score")}
          / count(*)::DOUBLE AS mean_score
      FROM b GROUP BY bin),
e AS (SELECT sum(n_docs)::BIGINT AS nb,
        ${graft.functions.StableSum
      .dsumSql("n_docs::DOUBLE * abs(frac_pos - mean_score)")} AS tsum
      FROM cal)
SELECT m.n, m.mse, e.tsum / e.nb::DOUBLE AS ece FROM m, e"""

  /** Preference-pair mining — the reward-model / DPO dataset builder
    * grown from pieces this pipeline already trusts: near-duplicate
    * clusters ([[Dedup.clusters]]) give sets of documents with the
    * SAME underlying content, and the trained probe's score ranks them
    * by quality — so (best member, other member) pairs are preference
    * judgments "same content, better execution", the construction
    * preference-data curation applies to crawl duplicates. One row per
    * non-representative member: (cluster_id, chosen_doc_id,
    * rejected_doc_id, chosen_score, rejected_score, margin), STRICT
    * preferences only (score ties are uninformative and depend on the
    * doc_id tiebreak, so they are filtered — spec-pinned).
    *
    * Scale shape: the cluster membership and probe scores ride their
    * session caches; one cluster-partitioned rank window feeds both
    * the chosen row (rn = 1) and the rejected rows (rn > 1) off the
    * same exchange, re-joined on cluster_id — cluster-sized build
    * side, never a corpus product.
    */
  def prefPairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = qualityProbe(spark, dir).select(col("doc_id"), col("score"))
    val ranked = Dedup.clusters(spark, dir).join(sc, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(col("score").desc, col("doc_id"))))
    val chosen = ranked.where(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("chosen_doc_id"),
        col("score").as("chosen_score"))
    ranked.where(col("rn") > 1)
      .select(col("cluster_id"), col("doc_id").as("rejected_doc_id"),
        col("score").as("rejected_score"))
      .join(chosen, "cluster_id")
      .where(col("chosen_score") > col("rejected_score"))
      .select(col("cluster_id"), col("chosen_doc_id"),
        col("rejected_doc_id"), col("chosen_score"),
        col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
  }

  private def prefPairsOracleSql: String =
    s"""${probeCtes()},
sc AS (SELECT f.doc_id, ${scoreSql("t", "f")} AS score
       FROM feat f, t$ProbeEpochs t),
cl AS MATERIALIZED (SELECT * FROM (${Dedup.oracle("llm_dedup_clusters")}) c0),
j AS MATERIALIZED (SELECT cl.cluster_id, cl.doc_id, sc.score,
        row_number() OVER (PARTITION BY cl.cluster_id
          ORDER BY sc.score DESC, cl.doc_id) AS rn
      FROM cl JOIN sc USING (doc_id))
SELECT c.cluster_id, c.doc_id AS chosen_doc_id,
  r.doc_id AS rejected_doc_id, c.score AS chosen_score,
  r.score AS rejected_score, c.score - r.score AS margin
FROM j c JOIN j r ON c.cluster_id = r.cluster_id
  AND c.rn = 1 AND r.rn > 1
WHERE c.score > r.score"""

  /** Calibration (reliability) table for the trained probe — the
    * diagnostic that closes the classifier story (train → gate → eval →
    * drift → CALIBRATION): documents bucketed by predicted score into
    * [[CalibBins]] clamped deciles, each bin reporting its size, mean
    * predicted score (DECIMAL-stable) and EMPIRICAL positive rate. A
    * well-calibrated probe has frac_pos tracking mean_score bin by bin;
    * a probe that separates but mis-scales shows the classic S-shape —
    * either way this is the table that justifies (or indicts) using
    * `score > 0.5` as the gate threshold. Scores ride the session probe
    * cache; one corpus-free aggregation over the scored table down to
    * ≤ [[CalibBins]] rows.
    */
  val CalibBins = 10

  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val top = lit(CalibBins.toLong - 1)
    qualityProbe(spark, dir)
      .select(col("label"), col("score"),
        least(top, greatest(lit(0L),
          floor(col("score") * 10).cast("long"))).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label") > 0.5, 1L).otherwise(0L)).as("n_pos"),
        (graft.functions.StableSum.dsum(col("score"))
          / count(lit(1)).cast("double")).as("mean_score"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        (col("n_pos").cast("double") / col("n_docs").cast("double"))
          .as("frac_pos"),
        col("mean_score"))
  }

  /** Labeling-queue size for [[uncertaintySample]]. */
  val UncertainTopK = 20

  /** Active-learning labeling queue — uncertainty (margin) sampling,
    * Lewis & Gale '94: the [[UncertainTopK]] documents the trained
    * probe is LEAST sure about, ranked by |score − ½| ascending. This
    * is the batch a labeling loop sends for human annotation: the
    * model's most informative examples, the prioritization step that
    * closes `llm_curate_learned`'s learn-then-gate loop into
    * learn-gate-RELABEL. Rides the session probe cache; the margin is
    * row-local and the global rank-≤-k filter compiles to bounded
    * per-partition heaps (TakeOrderedAndProject — never a corpus sort,
    * plan-guarded). (doc_id, label, score, margin, rk).
    */
  def uncertaintySample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    qualityProbe(spark, dir)
      .select(col("doc_id"), col("label"), col("score"),
        abs(col("score") - lit(0.5)).as("margin"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("margin").asc, col("doc_id"))).cast("long"))
      .where(col("rk") <= UncertainTopK)
  }

  private def uncertainOracleSql: String =
    s"""${probeCtes()}
SELECT doc_id, label, score, margin, rk FROM (
  SELECT doc_id, label, score, margin,
    row_number() OVER (ORDER BY margin ASC, doc_id)::BIGINT AS rk
  FROM (SELECT f.doc_id, f.y AS label,
          ${scoreSql("t", "f")} AS score,
          abs((${scoreSql("t", "f")}) - 0.5e0) AS margin
        FROM feat f, t$ProbeEpochs t))
WHERE rk <= $UncertainTopK"""

  /** Range-bucket count for [[aucOf]]'s distributed prefix sum. */
  val AucBuckets = 64

  /** Exact ROC-AUC of the trained probe — the rank statistic
    * (Mann–Whitney U) that evaluates the SCORER itself, independent of
    * the 0.5 gate threshold [[qualityCalibration]] audits:
    * AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻) over all
    * positive×negative document pairs. One summary row
    * (n_pos, n_neg, auc_num2, auc_fp9, auc) where auc_num2 is the EXACT
    * integer pair count 2·|{s⁺>s⁻}| + |{s⁺=s⁻}| and auc = auc_num2 /
    * (2·n⁺·n⁻).
    *
    * Exactness: every pair is counted in DECIMAL(38,0) integer
    * arithmetic (never the O(n²) pair join — see the shape below), so
    * auc_num2 is bit-identical across partitionings and engines.
    *
    * Output contract (hardened after a driver-environment hash
    * divergence on the r9 DECIMAL(38,0)+DOUBLE schema): every output
    * column is BIGINT or a DOUBLE derived from BIGINTs only.
    * auc_num2 ≤ 2·n⁺·n⁻ fits BIGINT while n⁺·n⁻ < 2⁶² (n ≈ 4·10⁹
    * balanced docs — beyond any single-audit shard); the accumulation
    * stays DECIMAL internally so the bound applies to the FINAL value
    * only. auc_fp9 = ⌊auc_num2·10⁹ / (2n⁺n⁻)⌋ is the integer
    * fixed-point ratio (the PageRank DIV discipline — engine- and
    * version-independent), and the double `auc` is one IEEE divide of
    * exact BIGINT-cast operands, deterministic under any libm/engine.
    *
    * Scale shape (the global-rank trap, solved): the naive form ranks
    * every score through ONE partition. Instead: (1) aggregate to
    * distinct scores with per-score pos/neg counts — the only
    * corpus-scale shuffle; (2) bucket scores into [[AucBuckets]] ranges
    * by approx-quantile split points carried as a 1-row broadcast (ANY
    * split set is correct — buckets only refine the score order, so
    * quantile approximation error costs balance, never correctness);
    * (3) within-bucket exclusive prefix sums run PARTITIONED by bucket,
    * and the single-partition stage sees only the ≤ [[AucBuckets]]-row
    * bucket totals (pinned in WindowBoundSpec). Ties share a distinct-
    * score row, so the ½-credit term is np·nn per row — no cross-row
    * tie handling. Degenerate one-class inputs yield auc = NaN (0/0),
    * identically in both engines.
    */
  def qualityAuc(spark: SparkSession, dir: String): DataFrame =
    aucOf(qualityProbe(spark, dir).select(col("label"), col("score")))

  /** `scored`: (label ∈ {0.0, 1.0}, score DOUBLE). */
  def aucOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val d = scored.groupBy(col("score")).agg(
      sum(when(col("label") > 0.5, 1L).otherwise(0L)).cast(dec).as("np"),
      sum(when(col("label") > 0.5, 0L).otherwise(1L)).cast(dec).as("nn"))
    val qs = (1 until AucBuckets).map(i => lit(i.toDouble / AucBuckets))
    val sp = d.agg(
      percentile_approx(col("score"), array(qs: _*), lit(10000)).as("sp"))
    val bucketed = d.crossJoin(broadcast(sp))
      .withColumn("g", size(filter(col("sp"), x => x <= col("score"))))
      .drop("sp")
    val win = Window.partitionBy("g").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withIn = bucketed.withColumn("cumin",
      coalesce(sum(col("nn")).over(win), lit(0L).cast(dec)))
    val offs = bucketed.groupBy("g").agg(sum(col("nn")).as("t"))
      .withColumn("goff",
        coalesce(sum(col("t")).over(Window.orderBy("g")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L).cast(dec)))
      .select("g", "goff")
    withIn.join(broadcast(offs), "g")
      .select(col("np"), col("nn"),
        (col("np") * (lit(2L).cast(dec) * (col("goff") + col("cumin"))
          + col("nn"))).as("num2"))
      .agg(
        sum(col("np")).cast("long").as("n_pos"),
        sum(col("nn")).cast("long").as("n_neg"),
        sum(col("num2")).cast(dec).as("num2s"))
      .select(col("n_pos"), col("n_neg"),
        graft.functions.StableSum.checkedLong(col("num2s"), "auc_num2")
          .as("auc_num2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("CAST((num2s * CAST(1000000000 AS DECIMAL(38,0)))" +
            " DIV (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)" +
            " AS BIGINT)")).as("auc_fp9"))
      .withColumn("auc",
        col("auc_num2").cast("double")
          / (lit(2.0) * col("n_pos").cast("double")
            * col("n_neg").cast("double")))
  }

  /** Cohen's κ inter-annotator agreement between the two independent
    * rule-based judges of document keep/drop — the hand-set quality
    * gate ([[TextOps.qualityScoreOf]]' `quality_pass`) and the
    * repetition gate ([[TextOps.repNgramsOf]]' `rep_pass`) — the label
    * QA statistic a labeling pipeline reports before trusting weak
    * labels (chance-corrected: raw agreement is inflated whenever both
    * judges mostly say "keep", exactly the fixture's ~9:1 regime).
    *
    * Exact rational form (no float accumulation):
    * κ = (N·n_agree − a₁b₁ − a₀b₀) / (N² − a₁b₁ − a₀b₀) with the
    * marginal products carried in DECIMAL(38,0) internally.
    *
    * Output contract (hardened after a driver-environment hash
    * divergence on the r9 DECIMAL(38,0)+DOUBLE schema): kappa_num /
    * kappa_den are emitted as BIGINT — they fit while N < 3·10⁹
    * documents (N² < 2⁶³), i.e. any single audit shard; past that the
    * audit runs per-source-shard by contract. kappa_fp9 is the
    * sign-safe integer fixed point sgn·⌊|num|·10⁹/den⌋ (the PageRank
    * DIV discipline), and the double κ is one IEEE divide of exact
    * BIGINT-cast operands — both engine- and version-independent.
    * Both-judges-unanimous degenerate input makes the denominator 0 →
    * κ = NaN (and kappa_fp9 NULL) identically in both engines.
    *
    * Scale shape: two row-local per-document gate passes joined on
    * doc_id (the [[probeFeaturesOf]] shape) collapsing straight into
    * ONE global aggregate — no windows, driver state = one row.
    */
  def labelAgreement(spark: SparkSession, dir: String): DataFrame =
    labelAgreementOf(docs(spark, dir))

  def labelAgreementOf(corpus: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val q = TextOps.qualityScoreOf(corpus)
      .select(col("doc_id"), col("quality_pass").as("a"))
    val r = TextOps.repNgramsOf(corpus)
      .select(col("doc_id"), col("rep_pass").as("b"))
    val m = q.join(r, Seq("doc_id")).agg(
      count(lit(1)).as("n"),
      sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"),
      sum(when(col("a"), 1L).otherwise(0L)).as("a_pos"),
      sum(when(col("b"), 1L).otherwise(0L)).as("b_pos"))
    val pe = (col("a_pos").cast(dec) * col("b_pos").cast(dec)
      + (col("n") - col("a_pos")).cast(dec)
        * (col("n") - col("b_pos")).cast(dec))
    m.select(col("n"), col("n_agree"), col("a_pos"), col("b_pos"),
        graft.functions.StableSum.checkedLong(
          col("n").cast(dec) * col("n_agree").cast(dec) - pe, "kappa_num")
          .as("kappa_num"),
        graft.functions.StableSum.checkedLong(
          col("n").cast(dec) * col("n").cast(dec) - pe, "kappa_den")
          .as("kappa_den"))
      .withColumn("kappa_fp9",
        when(col("kappa_den") > 0,
          signum(col("kappa_num")).cast("long") *
            expr("CAST((abs(CAST(kappa_num AS DECIMAL(38,0)))" +
              " * CAST(1000000000 AS DECIMAL(38,0)))" +
              " DIV CAST(kappa_den AS DECIMAL(38,0)) AS BIGINT)")))
      .withColumn("kappa",
        col("kappa_num").cast("double") / col("kappa_den").cast("double"))
  }

  private def agreementOracleSql: String = {
    val q = TextOps.oracle("llm_quality_score")
    val r = TextOps.oracle("llm_rep_ngrams")
    s"""WITH j AS (
  SELECT q.quality_pass AS a, r.rep_pass AS b
  FROM ($q) q JOIN ($r) r USING (doc_id)),
m AS (SELECT count(*)::HUGEINT AS n,
        sum(CASE WHEN a = b THEN 1 ELSE 0 END)::HUGEINT AS n_agree,
        sum(CASE WHEN a THEN 1 ELSE 0 END)::HUGEINT AS a_pos,
        sum(CASE WHEN b THEN 1 ELSE 0 END)::HUGEINT AS b_pos
      FROM j)
, k AS (SELECT n::BIGINT AS n, n_agree::BIGINT AS n_agree,
        a_pos::BIGINT AS a_pos, b_pos::BIGINT AS b_pos,
        (n*n_agree - (a_pos*b_pos + (n-a_pos)*(n-b_pos)))::BIGINT
          AS kappa_num,
        (n*n - (a_pos*b_pos + (n-a_pos)*(n-b_pos)))::BIGINT AS kappa_den
      FROM m)
SELECT n, n_agree, a_pos, b_pos, kappa_num, kappa_den,
  CASE WHEN kappa_den > 0 THEN
    (CASE WHEN kappa_num < 0 THEN -1 ELSE 1 END)::BIGINT
      * ((abs(kappa_num::HUGEINT) * 1000000000) // kappa_den)::BIGINT
  END AS kappa_fp9,
  kappa_num::DOUBLE / kappa_den::DOUBLE AS kappa
FROM k"""
  }

  private def aucOracleSql: String =
    s"""${probeCtes()},
sc AS (SELECT f.y AS label, ${scoreSql("t", "f")} AS score
       FROM feat f, t$ProbeEpochs t),
d AS (SELECT score,
        sum(CASE WHEN label > 0.5 THEN 1 ELSE 0 END)::HUGEINT AS np,
        sum(CASE WHEN label > 0.5 THEN 0 ELSE 1 END)::HUGEINT AS nn
      FROM sc GROUP BY score),
c AS (SELECT np, nn,
        coalesce(sum(nn) OVER (ORDER BY score
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          0::HUGEINT) AS cb
      FROM d)
, s AS (SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
        sum(np*(2*cb + nn))::BIGINT AS auc_num2
      FROM c)
SELECT n_pos, n_neg, auc_num2,
  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
    ((auc_num2::HUGEINT * 1000000000)
      // (2::HUGEINT * n_pos * n_neg))::BIGINT
  END AS auc_fp9,
  auc_num2::DOUBLE / (2.0*n_pos::DOUBLE*n_neg::DOUBLE) AS auc
FROM s"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_quality_auc" -> qualityAuc,
    "llm_label_agreement" -> labelAgreement,
    "llm_pref_pairs" -> prefPairs,
    "llm_quality_brier" -> qualityBrier,
    "llm_uncertainty_sample" -> uncertaintySample,
    "llm_quality_probe" -> qualityProbe,
    "llm_quality_gate" -> qualityGate,
    "llm_quality_train" -> qualityTrain,
    "llm_quality_calibration" -> qualityCalibration,
    "llm_dedup_keep_scored" -> dedupKeepScored)

  /** The SGD trainer replayed in DuckDB: the probe feature CTEs +
    * [[Dedup.bowVecsSqlCtes]] build the identical 262-dim observations
    * (L1-normalized bag-of-bigrams with bias + the 5 quality scalars),
    * the negative-class oversample is the same `id·k (+r)` remap, and
    * [[Sgd.fitCtes]] folds every logical shard record-by-record with
    * the shared table-sigmoid — then the final θ scores the ORIGINAL
    * (non-oversampled) observations for the summary metrics, mirroring
    * [[qualityTrainOf]]'s exact-sum accuracy/TPR/TNR arithmetic.
    */
  private def trainOracleSql: String = {
    val k = TrainNegOversample
    val pre =
      s"""$featSql,
${Dedup.bowVecsSqlCtes},
norm AS MATERIALIZED (
  SELECT vec_id,
    CASE WHEN lt > 0.0::DOUBLE THEN list_transform(e, ev -> ev / lt)
         ELSE e END AS xe
  FROM (SELECT vec_id, e,
          list_reduce(list_prepend(0.0::DOUBLE, e), (na, nb) -> na + nb)
            AS lt
        FROM vecs)),
obs0 AS MATERIALIZED (
  SELECT f.doc_id AS id, f.y,
    list_concat(list_prepend(1.0::DOUBLE, nm.xe),
      [f.f1, f.f2, f.f3, f.f4, f.f5]) AS x
  FROM norm nm JOIN feat f ON nm.vec_id = f.doc_id)"""
    val obsSelect =
      s"""SELECT (CASE WHEN y < 0.5::DOUBLE THEN id * $TrainIdStride + r
               ELSE id * $TrainIdStride END)::BIGINT AS id, y, x
  FROM obs0, (SELECT unnest(range(0, $k)) AS r) rs
  WHERE y < 0.5::DOUBLE OR r = 0"""
    s"""${Sgd.fitCtes(pre, obsSelect, TrainDims, logistic = true,
        parts = TrainShards)},
score AS MATERIALIZED (
  SELECT o.y, list_dot_product(o.x, t.th) > 0.0::DOUBLE AS posp
  FROM obs0 o, t${Sgd.MaxIter} t),
agg AS MATERIALIZED (
  SELECT count(*)::BIGINT AS n,
    sum(CASE WHEN posp = (y > 0.5::DOUBLE) THEN 1.0::DOUBLE
             ELSE 0.0::DOUBLE END) / count(*)::DOUBLE AS acc,
    sum(y) / count(*)::DOUBLE AS pos_rate,
    CASE WHEN sum(CASE WHEN y > 0.5::DOUBLE THEN 1 ELSE 0 END) = 0
         THEN 'NaN'::DOUBLE
         ELSE sum(CASE WHEN posp AND y > 0.5::DOUBLE THEN 1 ELSE 0
                  END)::DOUBLE
            / sum(CASE WHEN y > 0.5::DOUBLE THEN 1 ELSE 0 END)::DOUBLE
         END AS tpr,
    CASE WHEN sum(CASE WHEN y < 0.5::DOUBLE THEN 1 ELSE 0 END) = 0
         THEN 'NaN'::DOUBLE
         ELSE sum(CASE WHEN NOT posp AND y < 0.5::DOUBLE THEN 1 ELSE 0
                  END)::DOUBLE
            / sum(CASE WHEN y < 0.5::DOUBLE THEN 1 ELSE 0 END)::DOUBLE
         END AS tnr
  FROM score)
SELECT a.n AS n_docs, ${TrainDims}::BIGINT AS n_features,
  t.iters::BIGINT AS iterations, NOT t.cont AS converged,
  a.acc AS train_acc, a.pos_rate, a.tpr, a.tnr
FROM t${Sgd.MaxIter} t, agg a"""
  }

  private def calibrationOracleSql: String =
    s"""${probeCtes()},
sc AS (SELECT f.y AS label, ${scoreSql("t", "f")} AS score
       FROM feat f, t$ProbeEpochs t),
b AS (SELECT label, score,
        CAST(least(${CalibBins - 1}.0e0, greatest(0.0e0,
          floor(score * 10.0e0))) AS BIGINT) AS bin
      FROM sc)
SELECT bin, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN label > 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
  sum(CASE WHEN label > 0.5 THEN 1 ELSE 0 END)::DOUBLE
    / count(*)::DOUBLE AS frac_pos,
  ${graft.functions.StableSum.dsumSql("score")}
    / count(*)::DOUBLE AS mean_score
FROM b GROUP BY bin"""

  lazy val oracle: Map[String, String] = Map(
    "llm_quality_train" -> trainOracleSql,
    "llm_quality_probe" -> probeOracleSql,
    "llm_quality_gate" -> gateOracleSql,
    "llm_quality_calibration" -> calibrationOracleSql,
    "llm_quality_auc" -> aucOracleSql,
    "llm_label_agreement" -> agreementOracleSql,
    "llm_pref_pairs" -> prefPairsOracleSql,
    "llm_quality_brier" -> brierOracleSql,
    "llm_uncertainty_sample" -> uncertainOracleSql,
    "llm_dedup_keep_scored" -> keepScoredOracleSql)
}

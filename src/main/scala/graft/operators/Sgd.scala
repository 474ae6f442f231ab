package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Distributed SGD with parameter averaging — linear & logistic regression.
  *
  * Capability parity with `multilinereg/multilinereg.java` and
  * `logisticreg/logisticreg.java` (identical skeletons; the sigmoid at
  * logisticreg.java:79 is the only difference), re-expressed Spark-first:
  *
  *  - The reference's per-map-task sequential SGD over a `static` θ
  *    (multilinereg.java:39, 41-97) becomes a fold over each logical shard
  *    of a deterministically sharded `Dataset[Obs]` (M3) — the classic
  *    parameter-mixing pattern (Zinkevich et al., parallelized SGD).
  *    The reference re-reads its input in every iteration's job; here
  *    each shard is packed once into a cached [[Block]], and an epoch is
  *    one plain RDD job over the blocks — no query planning, row decoding
  *    or input scan per epoch.
  *  - The HDFS θ side-file read by every mapper and rewritten by the driver
  *    each iteration (multilinereg.java:67-75, 160-170, 209-216) becomes
  *    driver state: θ rides the task closure — O(numFeatures) state,
  *    zero filesystem round-trips.
  *  - The reducer's element-wise θ-snapshot sum + average over record count
  *    (A5, multilinereg.java:104-138) and AND-fold of continue flags (A6,
  *    :116,124) happen in the same partition pass; per-shard results are
  *    folded on the driver in shard order so the answer is bit-stable.
  *
  * Preserved quirky semantics (SURVEY.md §2.6, deliberately NOT fixed):
  *  - per record: flag_i = |h−y| > accuracy; θ is updated only when the
  *    record is outside tolerance (multilinereg.java:80-93);
  *  - the average is over per-RECORD θ snapshots, not per-shard finals
  *    (multilinereg.java:121-138);
  *  - training stops as soon as ANY single record is within tolerance
  *    (bool_and over flags; driver stops when false, multilinereg.java:202)
  *    or after maxIter = 50.
  *
  * Determinism — the ORACLE-GRADE contract (what lets `sgd_linreg_theta`
  * and `sgd_logreg_theta` be DuckDB hash-checked like every other entry):
  * shard membership is the EXPLICIT rule `pid = id % P` (not Spark's
  * opaque Murmur3 hash partitioning, which no other engine can replay),
  * the per-shard fold consumes records in ascending-id order, and the
  * driver mixes per-shard snapshot sums in ascending-pid order. Every
  * arithmetic step is IEEE +,−,×,÷ with a pinned association, so the
  * identical sequence of doubles falls out of any engine that follows
  * the same rule — which [[fitCtes]] makes DuckDB do with `list_reduce`
  * folds. The logistic link is [[sigmoidPL]], not `math.exp`, for the
  * same reason: libm transcendentals are not bit-reproducible across
  * runtimes, a 257-knot interpolation table of shared double literals is.
  *
  * Hyper-parameters from the reference: α = 0.03, accuracy = 0.01,
  * maxIter = 50 (multilinereg.java:146-151).
  */
object Sgd {
  val Alpha = 0.03
  val Accuracy = 0.01
  val MaxIter = 50

  /** Default logical shard count P. θ DEPENDS on P (parameter mixing is
    * coarser with fewer shards), so P is a MODEL HYPERPARAMETER, not a
    * physical tuning knob — a fixed default makes the fitted θ identical
    * on a laptop, a 1000-executor cluster, and in the DuckDB oracle.
    * Scaling story: each shard's fold is sequential, so wall-clock at
    * 100 TB is bounded by corpus/P — raise `graft.sgd.numPartitions` for
    * big corpora (more, shorter folds = finer mixing; still deterministic
    * at any FIXED value). The oracle binds the default; its replay cost
    * is ALSO ∝ max-shard-length (DuckDB vectorizes the fold across
    * shards), which is why the default is 512 and not 32.
    * Logical P is decoupled from physical partitioning — [[shard]] packs
    * several whole shards per task, so P does not inflate task counts.
    */
  val DefaultShards = 512

  /** Logical shard count: `graft.sgd.numPartitions` conf if set, else
    * `default`. Tests that assert run-to-run θ equality pin the conf
    * explicitly; the Verify/Bench harnesses leave the default. NOTE:
    * the DuckDB oracles bind the DEFAULTS (P is part of the model), so
    * a conf-overridden run trains a legitimately different θ that is
    * NOT oracle-comparable — the knob is for production scaling, not
    * for verify runs.
    */
  def numPartsOr(spark: SparkSession, default: Int): Int =
    spark.conf.getOption("graft.sgd.numPartitions").map(_.toInt)
      .getOrElse(default)

  def numParts(spark: SparkSession): Int =
    numPartsOr(spark, DefaultShards)

  case class Obs(id: Long, y: Double, x: Array[Double])

  /** One logical shard packed for the epoch loop: its records in
    * ascending-id order, labels in `y` and features row-major in `x`
    * (record r's features are `x(r·nf until (r+1)·nf)`).
    */
  private case class Block(pid: Long, y: Array[Double],
      x: Array[Double])

  case class FitResult(theta: Array[Double], iterations: Int,
      converged: Boolean)

  // ---- portable sigmoid --------------------------------------------------

  /** 257 knots of the logistic 1/(1+e^{−h}) on h ∈ [−8, 8], step 1/16.
    * Computed ONCE here with `math.exp` and embedded as double literals
    * in both engines (Scala's `Double.toString` is shortest-roundtrip,
    * so the SQL text parses back to the identical bits) — the table IS
    * the link function; exp never runs on a data path in either engine.
    */
  val SigmoidTable: Array[Double] =
    Array.tabulate(257)(k => 1.0 / (1.0 + math.exp(-(-8.0 + k / 16.0))))

  /** Piecewise-linear logistic link over [[SigmoidTable]] — the engine's
    * logistic-regression sigmoid (logisticreg.java:79 re-specified as a
    * bit-portable function). Two error terms vs exact 1/(1+e^{−h}), both
    * pinned by SgdSpec: interpolation error ≤ 5·10⁻⁵ inside [−8, 8],
    * and the clamp tail 1 − σ(8) ≈ 3.35·10⁻⁴ outside — well under the
    * 0.01 training tolerance. Every operation is IEEE-exact arithmetic
    * mirrored term-for-term by [[sigSql]].
    */
  def sigmoidPL(h: Double): Double =
    if (h <= -8.0) SigmoidTable(0)
    else if (h >= 8.0) SigmoidTable(256)
    else {
      val u = (h + 8.0) * 16.0
      val k = math.floor(u)
      val ki = k.toInt
      SigmoidTable(ki) + (u - k) * (SigmoidTable(ki + 1) - SigmoidTable(ki))
    }

  // ---- data --------------------------------------------------------------

  /** Route a prepared observation set into its logical shards: physical
    * partition by `pid = id % parts` (so a shard's records never split
    * across tasks) and sort by (pid, id) (so shards form contiguous
    * ascending-id runs). The PHYSICAL partition count is capped at the
    * session parallelism: θ only depends on the logical rule, and
    * [[pack]] cuts each task's pid runs into one [[Block]] per shard, so
    * many whole shards share a task — a large P costs finer mixing,
    * never more tasks.
    */
  def shard(ds: Dataset[Obs], parts: Int): Dataset[Obs] = {
    val spark = ds.sparkSession
    val physical = math.min(parts,
      math.max(spark.sparkContext.defaultParallelism, 8))
    val pid = pmod(col("id"), lit(parts.toLong))
    ds.repartition(physical, pid).sortWithinPartitions(pid, col("id"))
  }

  /** Regression dataset from lineitem (FIXTURES.md canonical mapping),
    * scaled to O(1) magnitudes so the reference's α = 0.03 is stable.
    * x0 = 1.0 bias prepended exactly as multilinereg.java:61 does.
    */
  def dataset(spark: SparkSession, dir: String, logistic: Boolean)
      : Dataset[Obs] = {
    val s = spark; import s.implicits._
    val li = Tables(spark, dir, "lineitem")
    val y =
      if (logistic) when($"l_returnflag" === "R", 1.0).otherwise(0.0)
      else $"l_extendedprice" * (lit(1.0) - $"l_discount") / lit(100000.0)
    shard(
      li.select(
          ($"l_orderkey" * 100 + $"l_linenumber").as("id"),
          y.as("y"),
          array(lit(1.0), $"l_quantity" / 50.0,
            $"l_extendedprice" / 100000.0, $"l_tax").as("x"))
        .as[Obs],
      numParts(spark))
  }

  /** Pack a [[shard]]ed set into one [[Block]] per logical shard.
    * Shards are detected as (already sorted) pid runs within each task,
    * so one task holding several co-hashed shards still yields
    * per-shard blocks. Only the first `nf` features of each record are
    * kept — the ones the fold reads.
    */
  private def pack(ds: Dataset[Obs], nf: Int, parts: Int): RDD[Block] =
    ds.rdd.mapPartitions { iter =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Block]
      var pid = -1L
      var ys = new scala.collection.mutable.ArrayBuilder.ofDouble
      var xs = new scala.collection.mutable.ArrayBuilder.ofDouble
      def flush(): Unit =
        if (pid >= 0L) out += Block(pid, ys.result(), xs.result())
      iter.foreach { o =>
        // pmod, matching [[shard]]'s routing and the oracle's
        // ((id % P) + P) % P spelling — Java % would put a negative
        // id in a "-r" shard that collides with the -1 sentinel and
        // silently drops from the mix
        val m = o.id % parts
        val p = if (m < 0) m + parts else m
        if (p != pid) {
          flush()
          pid = p
          ys = new scala.collection.mutable.ArrayBuilder.ofDouble
          xs = new scala.collection.mutable.ArrayBuilder.ofDouble
        }
        ys += o.y
        xs.addAll(o.x, 0, nf)
      }
      flush()
      out.iterator
    }

  /** One SGD pass over one shard: the sequential per-record fold from
    * θ, emitting (pid, allRecordsStillMoving, Σ per-record θ snapshots,
    * n).
    */
  private def foldBlock(b: Block, theta: Array[Double], logistic: Boolean)
      : (Long, Boolean, Array[Double], Long) = {
    val nf = theta.length
    val th = theta.clone()
    val snapSum = new Array[Double](nf)
    var allCont = true
    var r = 0
    while (r < b.y.length) {
      val off = r * nf
      var h = 0.0
      var i = 0
      while (i < nf) { h += th(i) * b.x(off + i); i += 1 }
      if (logistic) h = sigmoidPL(h)
      val err = b.y(r) - h
      if (math.abs(err) > Accuracy) {
        i = 0
        while (i < nf) { th(i) += Alpha * err * b.x(off + i); i += 1 }
      } else allCont = false // this record converged → vote to stop
      i = 0
      while (i < nf) { snapSum(i) += th(i); i += 1 }
      r += 1
    }
    (b.pid, allCont, snapSum, b.y.length.toLong)
  }

  /** Iterative driver loop (M5): stop on the reference's any-record-
    * converged flag or maxIter. `ds` must be [[shard]]ed with the SAME
    * `parts`; it is read once, into [[Block]]s cached for the fit, and
    * each epoch folds every block from the driver's θ in one job. The
    * per-shard results mix in ascending-pid order.
    */
  def fit(ds: Dataset[Obs], numFeatures: Int, logistic: Boolean,
      parts: Int): FitResult = {
    val blocks = pack(ds, numFeatures, parts)
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      var theta = new Array[Double](numFeatures)
      var cont = true
      var it = 0
      while (cont && it < MaxIter) {
        val th = theta
        val shards = blocks.map(foldBlock(_, th, logistic)).collect()
          .sortBy(_._1)
        val sum = new Array[Double](numFeatures)
        var n = 0L
        cont = true
        shards.foreach { case (_, flag, s, cnt) =>
          var i = 0
          while (i < numFeatures) { sum(i) += s(i); i += 1 }
          n += cnt
          cont &&= flag
        }
        if (n > 0) theta = sum.map(_ / n) else cont = false
        it += 1
      }
      FitResult(theta, it, !cont)
    } finally blocks.unpersist(): Unit
  }

  /** Session-lifetime trained model per (session, dir, link) — the
    * converged-artifact discipline ([[graft.operators.Graph]] rank
    * cache, [[graft.operators.Quality]] probe): a pipeline trains θ
    * once per snapshot and serves it everywhere, so the O(epochs)
    * driver-loop jobs run on the first call per (session, dir) only.
    * The cached value is the 1-row LocalRelation built from the driver
    * θ — no executor state to release. The key carries the SHARD COUNT
    * alongside (dir, link): the `id % P` fold layout is part of the
    * deterministic semantics (a different `graft.sgd.numPartitions`
    * conf is a different model, not the same model re-planned), so a
    * conf change mid-session trains fresh instead of serving a stale
    * layout's θ. The `fit` API itself stays cache-free;
    * [[invalidateTheta]] at the (session, dir) boundary.
    */
  private val thetaCache =
    new graft.SessionCache[(String, Boolean, Int), DataFrame](_ => ())

  def invalidateTheta(spark: SparkSession = null, dir: String = null)
      : Unit =
    thetaCache.invalidate(spark, k => dir == null || k._1 == dir)

  private def thetaDf(spark: SparkSession, dir: String, logistic: Boolean)
      : DataFrame = thetaCache.getOrBuild(
      spark, (dir, logistic, numParts(spark))) {
    val s = spark; import s.implicits._
    val r = fit(dataset(spark, dir, logistic), 4, logistic, numParts(spark))
    Seq((r.theta(0), r.theta(1), r.theta(2), r.theta(3), r.iterations,
      r.converged))
      .toDF("theta_0", "theta_1", "theta_2", "theta_3", "iterations",
        "converged")
  }

  /** OLS sufficient statistics of the SGD feature pipeline: the Gram
    * matrix Σ xᵢxⱼ (upper triangle) and moment vector Σ xᵢy as one row
    * of DECIMAL-stable sums. Two uses: it puts the regression FEATURE
    * pipeline (P2 positional extraction + scaling, exactly the columns
    * [[dataset]] feeds the iterative solver) under the DuckDB oracle,
    * and in closed form θ* = G⁻¹b is the exact answer the SGD
    * approximates — the spec solves the 4×4 system and checks the SGD θ
    * lands near it. Single global aggregate with map-side partials;
    * per-row products are identical IEEE doubles in both engines, and
    * the DECIMAL sum makes the reduction order-independent.
    */
  def gramMatrix(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val x = Seq(lit(1.0), $"l_quantity" / 50.0,
      $"l_extendedprice" / 100000.0, $"l_tax")
    val y = $"l_extendedprice" * (lit(1.0) - $"l_discount") / lit(100000.0)
    // order-independent exact reduction; see graft.functions.StableSum
    // for why a direct double→DECIMAL cast would NOT be portable
    def dsum(c: Column): Column = graft.functions.StableSum.dsum(c)
    val gram = for { i <- 0 until 4; j <- i until 4 }
      yield dsum(x(i) * x(j)).as(s"g_${i}${j}")
    val mom = (0 until 4).map(i => dsum(x(i) * y).as(s"b_$i"))
    Tables(spark, dir, "lineitem")
      .agg((gram ++ mom).head, (gram ++ mom).tail: _*)
  }

  def linregTheta(spark: SparkSession, dir: String): DataFrame =
    thetaDf(spark, dir, logistic = false)

  def logregTheta(spark: SparkSession, dir: String): DataFrame =
    thetaDf(spark, dir, logistic = true)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sgd_linreg_theta" -> linregTheta,
    "sgd_logreg_theta" -> logregTheta,
    "sgd_gram_matrix" -> gramMatrix
  )

  // ---- oracle ------------------------------------------------------------

  /** SQL let-binding: a single-element `list_transform` whose lambda
    * variable names the bound expression — the only way to share a
    * subexpression inside a DuckDB lambda body.
    */
  private def let(v: String, expr: String, body: String): String =
    s"list_transform([$expr], $v -> $body)[1]"

  /** [[sigmoidPL]] in SQL, reading knots from the captured `s.sig` list
    * (1-indexed). Term-for-term the Scala function: same clamps, same
    * (h+8)·16 grid arithmetic, same interpolation association.
    */
  private def sigSql(h: String): String =
    let("u", s"($h + 8.0::DOUBLE) * 16.0::DOUBLE",
      let("k", "floor(u)",
        s"CASE WHEN $h <= -8.0::DOUBLE THEN s.sig[1]" +
          s" WHEN $h >= 8.0::DOUBLE THEN s.sig[257]" +
          " ELSE s.sig[CAST(k AS BIGINT) + 1] + (u - k)" +
          " * (s.sig[CAST(k AS BIGINT) + 2] - s.sig[CAST(k AS BIGINT) + 1])" +
          " END"))

  /** Each knot FORCED to a DOUBLE literal (exponent form; `e0` when
    * `Double.toString` emitted none): a bare decimal literal parses as
    * DECIMAL in DuckDB and DECIMAL-LIST type unification rounds — a
    * plain `mkString` table measured 48/257 knots 1 ulp off at parse
    * (the Sketch LcTable lesson). Invisible at sf0.01, where training
    * never touches a defective knot; at sf0.1 the logreg fold does,
    * and the 1-ulp σ(h) divergence compounds over the per-record
    * epochs into a hash mismatch.
    */
  private def sigCte: String =
    s"sig AS (SELECT [${SigmoidTable.map { v =>
      val s = v.toString
      if (s.contains('E') || s.contains('e')) s else s + "e0"
    }.mkString(", ")}]::DOUBLE[] AS sig)"

  /** The per-record update as a `list_reduce` step lambda over the
    * unified accumulator/element struct {y, x, th, snap, n, cont}:
    * h = θ·x (ascending fold from 0.0), err = y − link(h), conditional
    * θ update at pinned association (θᵢ + (α·err)·xᵢ), snapshot add,
    * AND'd continue flag — [[foldBlock]]'s inner loop, line for line.
    */
  private def stepSql(nf: Int, logistic: Boolean): String = {
    // list_dot_product is the ascending-index loop (verified bit-equal
    // to the explicit list_reduce chain and to [[foldBlock]]'s dot on
    // randomized 4- and 262-dim inputs) — native, ~6× the lambda
    // formulation
    val dotSql = "list_dot_product(acc.th, r.x)"
    val linked = if (logistic) let("hr", dotSql, sigSql("hr")) else dotSql
    "(acc, r) -> " +
      let("h", linked,
        let("err", "r.y - h",
          let("nth",
            s"CASE WHEN abs(err) > ${Accuracy}::DOUBLE THEN " +
              s"list_transform(acc.th, (tv, ti) -> tv + " +
              s"${Alpha}::DOUBLE * err * r.x[ti]) ELSE acc.th END",
            "struct_pack(y := NULL::DOUBLE, x := NULL::DOUBLE[], " +
              "th := nth, " +
              "snap := list_transform(acc.snap, (sv, si) -> sv + nth[si]), " +
              "n := acc.n + 1, " +
              s"cont := acc.cont AND abs(err) > ${Accuracy}::DOUBLE)")))
  }

  /** The full [[fit]] loop as DuckDB CTEs — the `probeCtes` pattern
    * scaled up to per-record folds. Produces, after `preCtes` (extra
    * relations the obs SELECT needs) and `obs AS (obsSelect)` with
    * columns (id BIGINT, y DOUBLE, x DOUBLE[nf]):
    *
    *  - `lists`: one row per logical shard `pid = id % parts` holding
    *    `list(struct(y,x) ORDER BY id)` — membership and order exactly
    *    [[shard]]'s rule;
    *  - `t0..t{MaxIter}`: the θ-state chain (th DOUBLE[], iters INT,
    *    cont BOOL). Epoch k folds every shard with [[stepSql]]
    *    (`p{k}`), then mixes: snapshot lists summed in ascending-pid
    *    order, divided by the record count — the driver loop's exact
    *    double sequence. `WHERE t.cont` guards each epoch, so once the
    *    any-record-converged flag stops training the remaining CTEs are
    *    empty scans and the state rows carry forward unchanged —
    *    MaxIter is unrolled but only executed epochs cost anything.
    *
    * All CTEs MATERIALIZED (the BPE lesson: DuckDB inlines plain chained
    * CTEs exponentially).
    */
  private[operators] def fitCtes(preCtes: String, obsSelect: String,
      nf: Int, logistic: Boolean, parts: Int = DefaultShards): String = {
    val initAcc = "struct_pack(y := NULL::DOUBLE, x := NULL::DOUBLE[], " +
      "th := t.th, snap := list_transform(t.th, zv -> 0.0::DOUBLE), " +
      "n := 0::BIGINT, cont := true)"
    val sigFrom = if (logistic) ", sig s" else ""
    val epochs = (1 to MaxIter).map { k =>
      s"""p$k AS MATERIALIZED (
  SELECT l.pid,
    list_reduce(list_prepend($initAcc, l.recs), ${stepSql(nf, logistic)})
      AS st
  FROM lists l, t${k - 1} t$sigFrom WHERE t.cont),
t$k AS MATERIALIZED (
  SELECT CASE WHEN t.cont THEN a.th ELSE t.th END AS th,
    (t.iters + CASE WHEN t.cont THEN 1 ELSE 0 END)::INTEGER AS iters,
    CASE WHEN t.cont THEN a.cont ELSE false END AS cont
  FROM t${k - 1} t LEFT JOIN (
    SELECT list_transform(
        list_reduce(snaps, (ma, mb) ->
          list_transform(ma, (mv, mi) -> mv + mb[mi])),
        dv -> dv / nn::DOUBLE) AS th,
      acont AS cont
    FROM (SELECT list(st.snap ORDER BY pid) AS snaps,
            sum(st.n)::BIGINT AS nn, bool_and(st.cont) AS acont
          FROM p$k)) a ON true)"""
    }
    val zeros = (0 until nf).map(_ => "0.0::DOUBLE").mkString(", ")
    val pre = if (preCtes.isEmpty) "" else s"$preCtes,\n"
    val sg = if (logistic) s"$sigCte,\n" else ""
    s"""WITH $pre${sg}obs AS MATERIALIZED ($obsSelect),
lists AS MATERIALIZED (
  SELECT ((id % $parts) + $parts) % $parts AS pid,
    list(struct_pack(y := y, x := x, th := NULL::DOUBLE[],
      snap := NULL::DOUBLE[], n := NULL::BIGINT, cont := NULL::BOOLEAN)
      ORDER BY id) AS recs
  FROM obs GROUP BY 1),
t0 AS (SELECT [$zeros]::DOUBLE[] AS th, 0::INTEGER AS iters, true AS cont),
${epochs.mkString(",\n")}"""
  }

  /** The lineitem observation SELECT mirroring [[dataset]] — every
    * literal ::DOUBLE (DuckDB parses bare decimals as DECIMAL).
    */
  private def obsSelectSql(logistic: Boolean): String = {
    val y =
      if (logistic)
        "CASE WHEN l_returnflag = 'R' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END"
      else "l_extendedprice * (1.0::DOUBLE - l_discount) / 100000.0::DOUBLE"
    s"""SELECT (l_orderkey * 100 + l_linenumber)::BIGINT AS id,
    $y AS y,
    [1.0::DOUBLE, l_quantity / 50.0::DOUBLE,
     l_extendedprice / 100000.0::DOUBLE, l_tax] AS x
  FROM lineitem"""
  }

  private def thetaOracleSql(logistic: Boolean): String =
    s"""${fitCtes("", obsSelectSql(logistic), 4, logistic)}
SELECT th[1] AS theta_0, th[2] AS theta_1, th[3] AS theta_2,
  th[4] AS theta_3, iters AS iterations, NOT cont AS converged
FROM t$MaxIter"""

  private val gramOracleSql: String = {
    val xs = Seq("1.0", "(l_quantity / 50.0)", "(l_extendedprice / 100000.0)",
      "l_tax")
    val y = "(l_extendedprice * (1.0 - l_discount) / 100000.0)"
    def dsum(t: String) = graft.functions.StableSum.dsumSql(t)
    val cols =
      (for { i <- 0 until 4; j <- i until 4 } yield
        s"${dsum(s"${xs(i)} * ${xs(j)}")} AS g_$i$j") ++
        (0 until 4).map(i => s"${dsum(s"${xs(i)} * $y")} AS b_$i")
    s"SELECT ${cols.mkString(", ")} FROM lineitem"
  }

  val oracle: Map[String, String] = Map(
    "sgd_gram_matrix" -> gramOracleSql,
    "sgd_linreg_theta" -> thetaOracleSql(logistic = false),
    "sgd_logreg_theta" -> thetaOracleSql(logistic = true))
}

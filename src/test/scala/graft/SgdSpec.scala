package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftspec.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.operators.Sgd
import graft.operators.Sgd.Obs

/** SGD semantics: determinism, sequential-reference parity, the
  * reference's any-record-converged stop flag, and convergence on
  * noiseless data (SURVEY.md §5.2/§5.3; quirks from
  * multilinereg.java:80-93, 121-138, 202).
  */
class SgdSpec extends SparkSpecBase {

  /** Bit-exact sequential re-implementation of the reference semantics
    * (per-record update, per-record θ snapshot averaging, AND'd stop
    * flags) — what Sgd.fit must equal. Records route to shard
    * `pmod(id, parts)`, each shard folds its records in ascending-id
    * order from the epoch's θ, and the snapshot sums mix in ascending
    * pid order.
    */
  private def seqFit(obs: Seq[Obs], nf: Int, logistic: Boolean,
      parts: Int = 1): (Array[Double], Int, Boolean) = {
    val shards = obs.groupBy(o => ((o.id % parts) + parts) % parts)
      .toSeq.sortBy(_._1).map(_._2.sortBy(_.id))
    var theta = new Array[Double](nf)
    var cont = true
    var it = 0
    while (cont && it < Sgd.MaxIter) {
      val sum = new Array[Double](nf)
      var n = 0L
      cont = true
      shards.foreach { shard =>
        val th = theta.clone()
        val snap = new Array[Double](nf)
        shard.foreach { o =>
          var h = 0.0
          var i = 0
          while (i < nf) { h += th(i) * o.x(i); i += 1 }
          if (logistic) h = Sgd.sigmoidPL(h)
          val err = o.y - h
          if (math.abs(err) > Sgd.Accuracy) {
            var j = 0
            while (j < nf) { th(j) += Sgd.Alpha * err * o.x(j); j += 1 }
          } else cont = false
          var j = 0
          while (j < nf) { snap(j) += th(j); j += 1 }
          n += 1
        }
        var j = 0
        while (j < nf) { sum(j) += snap(j); j += 1 }
      }
      if (n > 0) theta = sum.map(_ / n) else cont = false
      it += 1
    }
    (theta, it, !cont)
  }

  private def bits(t: Array[Double]): Seq[Long] =
    t.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def toDs(obs: Seq[Obs], parts: Int) = {
    val s = spark; import s.implicits._
    Sgd.shard(spark.createDataset(obs), parts)
  }

  /** Noiseless linear data, |y| bounded away from the 0.01 tolerance so
    * training does not stop on the first record at θ = 0.
    */
  private def synth(n: Int): (Seq[Obs], Array[Double]) = {
    val trueTheta = Array(0.5, 0.3, -0.2)
    val obs = (0 until n).map { i =>
      val x = Array(1.0, ((i * 37) % 100) / 100.0, ((i * 61) % 100) / 100.0)
      val y = (x, trueTheta).zipped.map(_ * _).sum
      Obs(i.toLong, if (math.abs(y) > 0.1) y else y + 0.5, x)
    }
    (obs, trueTheta)
  }

  /** Ids `from until from + n` with labels ±1 alternating along each
    * shard of a 4-shard split (by the parity of ⌊id/4⌋): no θ fits a
    * record within the 0.01 tolerance, so training runs all
    * [[Sgd.MaxIter]] epochs.
    */
  private def alternating(n: Int, from: Int): Seq[Obs] =
    (from until from + n).map { i =>
      Obs(i.toLong, if (((i >> 2) & 1) == 0) 1.0 else -1.0,
        Array(1.0, ((i * 37) % 100) / 100.0, ((i * 61) % 100) / 100.0))
    }

  test("single-partition fit is bit-identical to the sequential reference") {
    val (obs, _) = synth(200)
    for (logistic <- Seq(false, true)) {
      val got = Sgd.fit(toDs(obs, 1), 3, logistic, parts = 1)
      val want = seqFit(obs.sortBy(_.id), 3, logistic)
      assert(got.theta.toSeq == want._1.toSeq, s"logistic=$logistic")
      assert(got.iterations == want._2 && got.converged == want._3)
    }
  }

  test("negative ids and several shards per task route by pmod") {
    // ids −50..50 at 4 shards: a plain Java % would route the negative
    // ids to shards −1..−3. Two layouts: one shard per task ([[shard]]
    // at parts = 4), and all four shards in a single task.
    val s = spark; import s.implicits._
    val obs = alternating(101, from = -50)
    val pid = pmod(col("id"), lit(4L))
    val oneTask = spark.createDataset(obs).repartition(1)
      .sortWithinPartitions(pid, col("id"))
    assert(oneTask.rdd.getNumPartitions == 1)
    for (logistic <- Seq(false, true);
         ds <- Seq(toDs(obs, 4), oneTask)) {
      val got = Sgd.fit(ds, 3, logistic, parts = 4)
      val want = seqFit(obs, 3, logistic, parts = 4)
      assert(want._2 > 1, "the reference stopped after one epoch")
      assert(bits(got.theta) == bits(want._1), s"logistic=$logistic")
      assert(got.iterations == want._2 && got.converged == want._3)
    }
  }

  test("empty input: θ = 0 after one epoch, converged") {
    val r = Sgd.fit(toDs(Seq.empty, 4), 3, logistic = false, parts = 4)
    assert(r.theta.toSeq == Seq(0.0, 0.0, 0.0))
    assert(r.iterations == 1 && r.converged)
  }

  test("fit plans no query per epoch") {
    // the blocks are packed once and every epoch is a plain RDD job:
    // at most one SQL execution (the pack's read of `ds`) and one job
    // per epoch plus at most one more
    val ds = toDs(alternating(200, from = 0), 4).persist()
    try {
      ds.count()
      val sc = spark.sparkContext
      val queries = new AtomicInteger
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case _: SparkListenerSQLExecutionStart =>
            queries.incrementAndGet(): Unit
          case _ => ()
        }
      }
      BusDrain(sc)
      sc.addSparkListener(listener)
      val r =
        try {
          val r = Sgd.fit(ds, 3, logistic = false, parts = 4)
          BusDrain(sc)
          r
        } finally sc.removeSparkListener(listener)
      assert(r.iterations > 1, "fit stopped after one epoch")
      assert(queries.get <= 1,
        s"${queries.get} SQL executions over ${r.iterations} epochs")
      assert(jobs.get <= r.iterations + 1,
        s"${jobs.get} jobs over ${r.iterations} epochs")
    } finally ds.unpersist(): Unit
  }

  test("fit is deterministic run-to-run at a fixed partition count") {
    spark.conf.set("graft.sgd.numPartitions", "4")
    try {
      val a = Sgd.linregTheta(spark, Sf).collect()(0)
      val b = Sgd.linregTheta(spark, Sf).collect()(0)
      assert(a == b)
    } finally spark.conf.unset("graft.sgd.numPartitions")
  }

  test("stop flag: one in-tolerance record halts training after epoch 1") {
    // x = 0 ⇒ h = 0 ⇒ |h − y| = 0 ≤ accuracy: votes stop immediately
    // (the reference's quirky bool-AND semantics, multilinereg.java:202).
    val obs = Seq(
      Obs(1L, 0.0, Array(0.0, 0.0)),
      Obs(2L, 5.0, Array(1.0, 2.0)))
    val r = Sgd.fit(toDs(obs, 1), 2, logistic = false, parts = 1)
    assert(r.iterations == 1 && r.converged)
  }

  test("θ depends on the logical shard rule only, not the input layout") {
    // shard() re-routes by id % P and re-sorts, so ANY upstream
    // partitioning must produce the bit-identical fold — the invariant
    // that makes the DuckDB oracle (which has no notion of Spark
    // partitions) a valid replay of the distributed run
    val s = spark; import s.implicits._
    val (obs, _) = synth(300)
    def fitFrom(inputParts: Int) = {
      val raw = spark.createDataset(obs).repartition(inputParts)
      Sgd.fit(Sgd.shard(raw, 8), 3, logistic = true, parts = 8)
    }
    val a = fitFrom(2)
    val b = fitFrom(13)
    assert(a.theta.toSeq == b.theta.toSeq)
    assert(a.iterations == b.iterations && a.converged == b.converged)
  }

  test("parameter-averaged SGD reduces MSE on noiseless linear data") {
    val (obs, _) = synth(500)
    def mse(theta: Array[Double]): Double =
      obs.map { o =>
        val h = (o.x, theta).zipped.map(_ * _).sum
        (h - o.y) * (h - o.y)
      }.sum / obs.size
    val r = Sgd.fit(toDs(obs, 4), 3, logistic = false, parts = 4)
    assert(mse(r.theta) < mse(new Array[Double](3)) / 10.0,
      s"MSE did not improve 10x: ${mse(r.theta)}")
  }

  test("closed-form OLS from the Gram matrix beats the SGD iterate") {
    val row = Sgd.gramMatrix(spark, Sf).collect()(0)
    val g = Array.ofDim[Double](4, 4)
    var idx = 0
    for (i <- 0 until 4; j <- i until 4) {
      g(i)(j) = row.getDouble(idx); g(j)(i) = g(i)(j); idx += 1
    }
    val b = (0 until 4).map(i => row.getDouble(idx + i)).toArray
    // g_00 = Σ1 = row count of lineitem
    val n = graft.Tables(spark, Sf, "lineitem").count()
    assert(g(0)(0) == n.toDouble)
    // Gaussian elimination for θ* = G⁻¹ b
    val a = Array.tabulate(4, 5)((i, j) => if (j < 4) g(i)(j) else b(i))
    for (p <- 0 until 4) {
      val pivot = (p until 4).maxBy(r => math.abs(a(r)(p)))
      val t = a(p); a(p) = a(pivot); a(pivot) = t
      for (r <- 0 until 4 if r != p) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p to 4) a(r)(c) -= f * a(p)(c)
      }
    }
    val ols = (0 until 4).map(i => a(i)(4) / a(i)(i)).toArray
    // OLS is the exact minimizer: its MSE lower-bounds the SGD iterate's
    val obs = Sgd.dataset(spark, Sf, logistic = false).collect()
    def mse(t: Array[Double]): Double =
      obs.map { o =>
        val h = (o.x, t).zipped.map(_ * _).sum
        (h - o.y) * (h - o.y)
      }.sum / obs.length
    spark.conf.set("graft.sgd.numPartitions", "4")
    try {
      val sgd = Sgd.fit(Sgd.dataset(spark, Sf, logistic = false)
        .persist(), 4, logistic = false, parts = Sgd.numParts(spark))
      assert(mse(ols) <= mse(sgd.theta) + 1e-12,
        s"OLS ${mse(ols)} vs SGD ${mse(sgd.theta)}")
      assert(mse(sgd.theta) < mse(new Array[Double](4)),
        "SGD did not improve on the zero vector")
    } finally spark.conf.unset("graft.sgd.numPartitions")
  }

  test("typed VectorAvg aggregator matches the Gram-derived feature means") {
    val s = spark; import s.implicits._
    val ds = Sgd.dataset(spark, Sf, logistic = false).map(_.x)
    val mean = ds.select(graft.functions.VectorAvg.toColumn).collect()(0)
    // Gram row 0 is Σ 1·x_j, so g_0j / n are the exact feature means
    val row = Sgd.gramMatrix(spark, Sf).collect()(0)
    val n = row.getAs[Double]("g_00") // g_00 = Σ1
    val want = Array(row.getAs[Double]("g_00"), row.getAs[Double]("g_01"),
      row.getAs[Double]("g_02"), row.getAs[Double]("g_03")).map(_ / n)
    assert(mean.length == 4)
    mean.zip(want).foreach { case (m, w) =>
      assert(math.abs(m - w) < 1e-9, s"$m vs $w")
    }
    // empty input → empty vector, no division by zero
    assert(spark.emptyDataset[Array[Double]]
      .select(graft.functions.VectorAvg.toColumn).collect()(0).isEmpty)
  }

  test("table sigmoid stays within its documented bound of exact exp") {
    // the r11 link deviation (logisticreg.java:79's 1/(1+exp(-h))
    // replaced by the 257-knot interpolation table) has two error
    // terms — pin BOTH directly against libm exp, since the
    // sequential-parity harness above shares sigmoidPL and cannot see
    // a drift in the link function itself:
    //  - interpolation error inside the knot range [-8, 8]:
    //    ≤ max|σ''|·h²/8 with h = 1/16, i.e. ≤ 5e-5;
    //  - clamp error outside it, bounded by the tail mass
    //    1 − σ(8) ≈ 3.35e-4 (the dominant, documented deviation —
    //    still ≪ the 0.01 training tolerance).
    var interior = 0.0
    var h = -8.0
    while (h <= 8.0) {
      val exact = 1.0 / (1.0 + math.exp(-h))
      interior = math.max(interior, math.abs(Sgd.sigmoidPL(h) - exact))
      h += 1.0 / 4096.0
    }
    assert(interior <= 5e-5, s"max interior |sigmoidPL - sigmoid| = $interior")
    var global = interior
    h = -20.0
    while (h <= 20.0) {
      val exact = 1.0 / (1.0 + math.exp(-h))
      global = math.max(global, math.abs(Sgd.sigmoidPL(h) - exact))
      h += 1.0 / 1024.0
    }
    assert(global <= 3.4e-4, s"max |sigmoidPL - sigmoid| = $global")
    // and the clamp region really clamps to the table's edge knots
    assert(Sgd.sigmoidPL(-50.0) == Sgd.SigmoidTable(0))
    assert(Sgd.sigmoidPL(50.0) == Sgd.SigmoidTable(256))
  }

  test("epoch data has exactly one exchange (the id repartition)") {
    val ds = Sgd.dataset(spark, Sf, logistic = false)
    val plan = ds.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected the single deterministic repartition, got $exchanges:\n$plan")
  }

  test("trained theta serves from the session cache; invalidate rebuilds") {
    val a = Sgd.linregTheta(spark, Sf)
    assert(a eq Sgd.linregTheta(spark, Sf),
      "repeated theta calls re-ran the O(epochs) driver loop")
    val rows = a.collect().toSeq
    // a different shard-count conf is a DIFFERENT model (P is part of
    // the fold-layout semantics): it must miss the cache, never serve
    // the other layout's θ
    spark.conf.set("graft.sgd.numPartitions", "2")
    try assert(!(Sgd.linregTheta(spark, Sf) eq a),
      "a conf-overridden shard count served the default layout's θ")
    finally spark.conf.unset("graft.sgd.numPartitions")
    Sgd.invalidateTheta(spark, Sf)
    val b = Sgd.linregTheta(spark, Sf)
    assert(!(b eq a), "invalidateTheta left the trained model cached")
    assert(b.collect().toSeq == rows,
      "a retrained theta diverged from the deterministic fit")
  }
}

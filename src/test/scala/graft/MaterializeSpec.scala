package graft

import org.apache.spark.sql.functions._

/** Pins [[Materialize.release]]'s reclamation contract — the half of
  * the strategy seam the cluster story depends on: per-round release
  * in the iterative loops must actually reclaim what each strategy
  * allocated, or checkpoint storage grows linearly with round count.
  */
class MaterializeSpec extends SparkSpecBase {

  private def rootRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd

  test("release deletes a Reliable checkpoint's files") {
    val prev = spark.sparkContext.getCheckpointDir
    withCheckpointDir { _ =>
      val ck = Materialize.Reliable(
        spark.range(100).toDF("id").select(col("id"), (col("id") * 2).as("v")))
      val file = rootRdd(ck).getCheckpointFile
      assert(file.nonEmpty, "Reliable output is not a reliable checkpoint")
      val p = new org.apache.hadoop.fs.Path(file.get)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(p), "checkpoint files were never written")
      // unpersist alone is a no-op for reliable checkpoints — release
      // must delete the directory, or every superseded loop round
      // leaks a full-table checkpoint for the application lifetime
      Materialize.release(ck)
      assert(!fs.exists(p),
        s"release left the reliable checkpoint files at ${file.get}")
    }
    // the shared context is not left pointing at the deleted temp dir
    assert(spark.sparkContext.getCheckpointDir == prev)
  }

  test("release unwraps rename projections to the checkpointed root") {
    val ck = Materialize.Local(
      spark.range(50).toDF("id").select(col("id"), (col("id") + 1).as("v")))
    val rdd = rootRdd(ck)
    assert(rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    // the `select(col("id").as("doc_id"))` shape the iterative loops
    // return their final table through: a pure rename must not hide
    // the root from release
    val renamed = ck.select(col("id").as("doc_id"), col("v").as("w"))
    Materialize.release(renamed)
    assert(rdd.getStorageLevel ==
        org.apache.spark.storage.StorageLevel.NONE,
      "release did not reach the checkpoint behind a rename projection")
  }

  test("release does not pierce a Filter barrier over a shared table") {
    // the ownership contract's escape hatch: an API that must hand a
    // view of a SHARED cached table to a caller who may release() it
    // wraps the view in `WHERE true` — inert at execution (Catalyst
    // folds it), but the ANALYZED plan release walks keeps it, so the
    // walk stops before the shared root
    val shared = Materialize.Local(
      spark.range(40).toDF("id").select(col("id"), (col("id") * 3).as("v")))
    val rdd = rootRdd(shared)
    assert(rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    val view = shared.select(col("id"), col("v")).where(lit(true))
    Materialize.release(view)
    assert(rdd.getStorageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
      "release pierced the WHERE-true barrier and killed the shared table")
    assert(view.count() == 40) // the barrier costs nothing at execution
    Materialize.release(shared)
  }

  test("isCheckpointLoss matches the REAL lost-block failure and walks " +
    "cause chains; unrelated failures do not match") {
    // the real thing: a localCheckpoint whose blocks are gone serves
    // the same failure class an executor kill produces
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — the r15 matrix's recorded
    // local outcome)
    val ck = Materialize.Local(
      spark.range(100).toDF("id").select(col("id"), (col("id") + 1).as("v")))
    rootRdd(ck).unpersist(blocking = true)
    val e = intercept[Exception](ck.count())
    assert(Materialize.isCheckpointLoss(e),
      s"real lost-block failure unmatched: ${e.getMessage}")
    // cause-chain walking: Spark wraps task failures in job-abort layers
    assert(Materialize.isCheckpointLoss(new RuntimeException("outer",
      new RuntimeException("Checkpoint block rdd_9_1 not found! ..."))))
    assert(Materialize.isCheckpointLoss(
      new RuntimeException("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND: gone")))
    // a rebuild must never mask a real bug
    assert(!Materialize.isCheckpointLoss(new RuntimeException("boom")))
    assert(!Materialize.isCheckpointLoss(
      new RuntimeException("block rdd_1_0 misplaced")))
  }

  test("recovering: checkpoint loss invalidates the session's caches " +
    "and rebuilds ONCE; other failures and double loss propagate") {
    val cache = new SessionCache[java.lang.Integer](_ => ())
    cache.getOrBuild(spark, "k")(42): Unit
    assert(cache.size == 1)
    var calls = 0
    var rebuilds = 0
    val got = Materialize.recovering(spark, _ => rebuilds += 1) {
      calls += 1
      if (calls == 1) throw new RuntimeException("job aborted",
        new RuntimeException("Checkpoint block rdd_7_0 not found! ..."))
      "served"
    }
    assert(got == "served" && calls == 2 && rebuilds == 1)
    assert(cache.size == 0,
      "recovery must drop the session's cached artifacts before rebuild")
    // a NON-matching failure propagates without touching the caches
    cache.getOrBuild(spark, "k2")(7): Unit
    intercept[RuntimeException](
      Materialize.recovering(spark)(throw new RuntimeException("boom")))
    assert(cache.size == 1,
      "an unrelated failure must not invalidate cached artifacts")
    // a SECOND checkpoint loss propagates — one rebuild is the
    // contract, not a retry loop (executors actively dying must fail
    // loudly, not spin)
    var n = 0
    val e2 = intercept[RuntimeException](Materialize.recovering(spark) {
      n += 1
      throw new RuntimeException("Checkpoint block rdd_1_0 not found!")
    })
    assert(n == 2 && Materialize.isCheckpointLoss(e2))
    SessionCache.invalidate(spark, "k2")
  }

  test("GraftBlockBridge: block-location lookup runs against a live " +
    "session and excludes driver-held blocks") {
    // local-mode pin for the faultproof targeting seam: a persisted
    // DF's blocks live on the DRIVER block manager here, and the
    // bridge must exclude it (killing the driver is not the scenario)
    // rather than throw — on local-cluster the same call returns the
    // executor ids FaultProof prefers as kill victims
    val df = spark.range(50).toDF("id")
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    df.count(): Unit
    assert(org.apache.spark.GraftBlockBridge
      .executorsHoldingRddBlocks(spark.sparkContext).isEmpty)
    df.unpersist(blocking = true): Unit
  }
}

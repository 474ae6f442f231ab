package graft

import org.apache.spark.sql.DataFrame

/** Materialization strategy for intermediate tables that feed multiple
  * plan consumers (dedup shingle tables, band indexes, the per-round
  * state of the iterative graph and dedup loops): without a cut, each
  * consumer of a self-joined narrow pipeline recomputes it from the
  * scan. The deployment picks one of two cuts through the
  * `graft.materialize` conf ([[session]]): `local` (the default,
  * `localCheckpoint` — cheapest, right for a single JVM, but its blocks
  * have no lineage fallback) or `reliable` (a checkpoint to the
  * configured checkpoint dir — a DFS path on a cluster). Both
  * materialize eagerly and truncate lineage, so a build may release
  * its staged inputs as soon as the cut returns, and a loop round that
  * reads its predecessor twice plans against a bare scan.
  */
object Materialize {

  /** A materialization point: given the DataFrame to cut, return the
    * DataFrame consumers should read from. Contract for every strategy:
    * the cut materializes EAGERLY (before it returns) and TRUNCATES
    * lineage (the returned plan's root is the materialized table).
    * Cached builds rely on both: they release staged inputs right after
    * deriving from them, and the iterative forms cut every round.
    */
  type Strategy = DataFrame => DataFrame

  /** Executor-local checkpoint: truncates lineage, blocks live in
    * executor storage only. Fast; loses the job if an executor dies.
    */
  val Local: Strategy = _.localCheckpoint()

  /** Reliable lineage-truncating checkpoint to the configured
    * checkpoint directory (`spark.sparkContext.setCheckpointDir` — on
    * a cluster, a DFS path): survives executor loss AND bounds plan
    * depth like [[Local]]. The cluster choice for session-cached
    * artifacts and the iterative family's per-round cuts. [[release]]
    * DELETES the checkpoint files (Spark itself reclaims them only
    * under the non-default
    * `spark.cleaner.referenceTracking.cleanCheckpoints`, and then only
    * on GC) — without that, every superseded round of a
    * clustersOf/hits-class loop would retain a full-table checkpoint
    * directory for the application lifetime.
    */
  val Reliable: Strategy = _.checkpoint()

  /** The deployment-selected strategy for SESSION-CACHED artifacts
    * (serving indexes, converged fixed-points, kept sets, trained θ)
    * and the iterative operators' per-round cuts, read from the session
    * conf:
    *
    *   `graft.materialize` = `local` (default) | `reliable`
    *
    * `local` is right for a single JVM; a real cluster flips the conf
    * to `reliable` (with `sparkContext.setCheckpointDir` pointing at a
    * DFS path) so cached state survives executor loss — a conf flip,
    * not a code edit. Any other value fails here, at the first build
    * that reads it. Returns the singleton strategies (compare with
    * `eq`). Read at BUILD time: flipping the conf mid-session does
    * not migrate artifacts already cached under the previous strategy
    * (they are value-identical either way; call
    * [[SessionCache.invalidate]] to rebuild under the new one).
    * Transient per-call cuts that are released within the same call
    * (1-row eager scalars, staged shortlists) stay [[Local]]: on
    * executor loss the query retries and rebuilds them, nothing
    * outlives the call.
    */
  def session(spark: org.apache.spark.sql.SparkSession): Strategy =
    spark.conf.get("graft.materialize", "local") match {
      case "local" => Local
      case "reliable" => Reliable
      case other => throw new IllegalArgumentException(
        s"graft.materialize=$other (expected local|reliable)")
    }

  /** Cut a serving table with `mat`, then widen the MATERIALIZED cut
    * up to the session's shuffle parallelism if it came out narrower —
    * the r16 fix for single-split inputs: a checkpoint PRESERVES its
    * child's partitioning, and an index built narrow from a
    * one-row-group parquet scan (every fixture table) serves every
    * later query 1-task-wide no matter how many cores exist.
    *
    * The width is read from the ALREADY-materialized cut (a
    * checkpointed table's plan is a bare scan — no exchanges, so
    * `.rdd` here builds the RDD without running anything). The r16
    * form probed `df.rdd` on the un-cut BUILD plan, and under AQE
    * (default) that materializes every shuffle query stage; the narrow
    * branch's `repartition` then re-planned and re-executed them —
    * roughly doubling exchange-bearing builds like Dsir's
    * documents⋈curateStrict (r16 ADVICE item 1). Now the build
    * executes exactly once; a narrow result pays one extra cut of the
    * (by definition small-partition-count) cached table.
    *
    * Conditional on the materialized width, so at warehouse scale
    * (inputs already wider than the conf) the re-cut never fires — no
    * forced reshuffle of a wide index. Explicit numPartitions keeps
    * AQE's byte-based coalescer from folding the widening back
    * (compute-per-row is invisible to byte heuristics — the
    * jaccardVerify precedent); round-robin with the default
    * sort-before-repartition, so retried map tasks reproduce the same
    * row→partition assignment (SPARK-23207, guide §2.5). Intended for
    * tables whose DOWNSTREAM per-row work dominates task overhead
    * (the bow vector index, DSIR's strict-docs table); r16 measured a
    * blanket version NEGATIVE on trivial-serve indexes.
    */
  def widened(mat: Strategy)(df: DataFrame): DataFrame = {
    val cut = mat(df)
    val n = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    if (cut.rdd.getNumPartitions >= n) cut
    else {
      val wide = mat(cut.repartition(n))
      release(cut)
      wide
    }
  }

  /** True when a failure (anywhere in its cause chain) is the
    * checkpoint-block-loss class — the signature of serving a
    * [[Local]]-checkpointed cached artifact after the executor holding its blocks died:
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` / "Checkpoint block rdd_N_M
    * not found". A localCheckpoint has NO lineage fallback by design,
    * so this failure is never transient — the artifact must be
    * rebuilt, which is exactly what [[recovering]] does. Other
    * failures (OOM, analysis errors, data corruption) do NOT match:
    * rebuilding would mask a real bug.
    */
  def isCheckpointLoss(t: Throwable): Boolean = {
    var cur = t
    var seen = 0
    while (cur != null && seen < 16) {
      val m = Option(cur.getMessage).getOrElse("")
      if (m.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") ||
          (m.contains("Checkpoint block") && m.contains("not found")))
        return true
      cur = cur.getCause
      seen += 1
    }
    false
  }

  /** The SERVE boundary for session-cached artifacts: run `serve` (an
    * action over DataFrames derived from cached artifacts); if it
    * fails with [[isCheckpointLoss]], drop every artifact this session
    * holds ([[SessionCache.invalidate]] — the lost blocks are
    * unrecoverable, and
    * which cached table they belonged to is not attributable from the
    * block id), rebuild by re-running `serve` ONCE (the operator
    * builders repopulate their caches on access), and return that
    * result. A second failure propagates — one rebuild is the
    * recovery contract, not a retry loop (if the rebuilt artifact ALSO
    * loses blocks immediately, executors are actively dying and the
    * job should fail loudly).
    *
    * This is the graceful degradation path for
    * `graft.materialize=local` under executor loss (the r15 matrix
    * recorded it as documented-fail): the serve now recovers
    * after one rebuild instead of failing the application —
    * `tools/faultproof.sh` proves it under a real `kill -9`.
    * `reliable` never enters the recovery arm (checkpoint FILES
    * survive executor loss; the serve succeeds directly), which the
    * same proof pins. `onRebuild` observes the recovery (the proof
    * records it; deployments typically log it).
    */
  def recovering[T](spark: org.apache.spark.sql.SparkSession,
      onRebuild: String => Unit = _ => ())(serve: => T): T =
    try serve
    catch {
      case e: Throwable if isCheckpointLoss(e) =>
        SessionCache.invalidate(spark)
        onRebuild(Option(e.getMessage).getOrElse(e.getClass.getName))
        serve
    }

  /** Best-effort release of a table previously returned by a strategy:
    * iterative operators ([[graft.operators.Dedup.clustersOf]]) supersede
    * a materialized table every round, and without an explicit release the
    * pinned blocks accumulate linearly with round count. `unpersist`
    * covers persisted tables (cache-manager entries); the root match
    * covers [[Local]], whose blocks belong to the checkpointed RDD behind the
    * plan's ROOT `LogicalRDD`, not to any cache-manager entry.
    *
    * Deliberately releases ONLY the table it is handed: it matches the
    * plan root (through aliases/`toDF`/pure-rename projections), never
    * walking into leaves, because a lineage-retaining plan (a persisted
    * or uncut table derived from checkpointed inputs) legitimately
    * contains upstream `LogicalRDD` leaves this call does not own — e.g.
    * the session dedup index — and unpersisting a localCheckpoint
    * someone else still reads is unrecoverable (no lineage fallback).
    * Safe on an uncut table (both paths no-op).
    *
    * [[Reliable]] output additionally has its checkpoint FILES deleted:
    * `unpersist` is a no-op for a reliable checkpoint (the data lives
    * in the checkpoint dir, not the block store), so without this the
    * per-round release discipline silently leaks one full-table
    * directory per loop round on a cluster.
    *
    * OWNERSHIP CONTRACT (for API authors): because the unwrap walks
    * through bare rename/alias projections, a released table is
    * indistinguishable from a rename VIEW over someone else's
    * materialized table. Public APIs must therefore never hand out a
    * bare `select(col(a).as(b))` view over a SHARED session-cached
    * checkpoint to callers who might release it — either return the
    * cached table verbatim (callers own nothing; nothing to release)
    * or wrap it in a non-trivial projection/filter so release no-ops.
    * The iterative `…Of` forms return a table they cut themselves, so
    * the caller owns it and may release it.
    */
  def release(ds: org.apache.spark.sql.Dataset[_]): Unit = {
    ds.unpersist(blocking = false)
    var p = ds.queryExecution.analyzed
    var unwrapping = true
    // unwrap column renames/reorders too (Alias over a bare Attribute —
    // the `select(col("id").as("doc_id"))` shape iterative loops return
    // their final table through), not just attribute-only projections
    def rename(e: org.apache.spark.sql.catalyst.expressions.NamedExpression)
        : Boolean = e match {
      case _: org.apache.spark.sql.catalyst.expressions.Attribute => true
      case a: org.apache.spark.sql.catalyst.expressions.Alias =>
        a.child.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.Attribute]
      case _ => false
    }
    while (unwrapping) p match {
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        p = a.child
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project
          if pr.projectList.forall(rename) =>
        p = pr.child
      case _ => unwrapping = false
    }
    p match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          val fs = path.getFileSystem(
            ds.sparkSession.sparkContext.hadoopConfiguration)
          fs.delete(path, true): Unit
        }
      case _ => ()
    }
  }
}

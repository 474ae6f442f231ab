package graft

import org.apache.spark.sql.SparkSession

/** Executor-loss fault-tolerance proof for the `graft.materialize`
  * conf (run via spark-submit on `local-cluster[2,2,…]` — multi-JVM
  * executors on one machine, the closest local stand-in for a real
  * cluster):
  *
  *   1. build two session-cached artifacts under the conf'd strategy —
  *      the Dedup band index (`llm_dedup_minhash`) and a rank-cache
  *      graph entry (`graph_pagerank`) — and hash their served rows;
  *   2. `kill -9` one CoarseGrainedExecutorBackend JVM;
  *   3. serve both entries again from the same session and compare.
  *
  * Expected outcomes, one per conf value:
  *   - `reliable`: the serve succeeds DIRECTLY with identical hashes
  *     (`rebuilt:false`) — the cached state lives as checkpoint FILES
  *     (a DFS path on a real cluster; a shared local dir here), so a
  *     lost executor's blocks recompute from files instead of failing;
  *   - `local`: the raw serve dies (`Checkpoint block … not found` —
  *     localCheckpoint pins blocks to executor storage with no lineage
  *     fallback, the documented single-JVM-only limitation), and the
  *     [[Materialize.recovering]] boundary RECOVERS it: one
  *     `SessionCache.invalidate(spark)` + rebuild, hashes identical
  *     (`rebuilt:true`).
  *
  * Prints one JSON line; exit 0 when the observed outcome matches the
  * expectation for the mode, 1 otherwise. See BASELINE.md "Round-16
  * executor-loss recovery" for the recorded run.
  */
object FaultProof {

  private def jstr(s: String): String = Bench.q(s)

  /** `kill -9` one executor JVM of THIS application (local-cluster
    * executors are separate CoarseGrainedExecutorBackend processes on
    * this host). Candidates are filtered by the backend's `--app-id
    * <applicationId>` argv so a concurrently running unrelated Spark
    * job can never lose an executor to a proof run (which would both
    * corrupt it and leave our own executors alive, making the scenario
    * vacuous); a refused destroy or a still-alive process fails the
    * proof instead of proceeding as if an executor died. Returns the
    * killed pid. Shared by [[FaultProof]] (batch) and
    * [[FaultProofStream]] (streaming recovery).
    *
    * `prefer` (r16): executor ids whose backends should be killed
    * FIRST — the batch proof passes the executors holding blocks of
    * the served entries' cached artifacts
    * ([[org.apache.spark.GraftBlockBridge]]), because with 2 executors
    * and small build jobs every cached block can land on one JVM, and
    * killing the empty one proves nothing (the serve succeeds directly
    * and the recovery arm never fires — the r16 `local`-mode flake).
    * Ids not in `prefer` remain fallback victims, so an empty or stale
    * set degrades to the old any-executor behavior rather than failing.
    */
  private[graft] def killOneExecutor(spark: SparkSession,
      prefer: Set[String] = Set.empty): Long = {
    val appId = spark.sparkContext.applicationId
    def cmdOf(p: ProcessHandle): String = p.info().commandLine().orElse("")
    def execIdOf(cmd: String): String = {
      val argv = cmd.split("\\s+")
      argv.indices.collectFirst {
        case i if argv(i) == "--executor-id" && i + 1 < argv.length =>
          argv(i + 1)
      }.getOrElse("")
    }
    var victims = List.empty[ProcessHandle]
    val it = ProcessHandle.allProcesses().iterator()
    while (it.hasNext) {
      val p = it.next()
      val cmd = cmdOf(p)
      if (cmd.contains("CoarseGrainedExecutorBackend") &&
          cmd.contains(appId)) victims ::= p
    }
    var killed = -1L
    for (p <- victims.sortBy(p => (!prefer(execIdOf(cmdOf(p))), p.pid()))
         if killed < 0) {
      if (p.destroyForcibly()) {
        p.onExit().get(30, java.util.concurrent.TimeUnit.SECONDS): Unit
        killed = p.pid()
      } else if (!p.isAlive) {
        // the candidate exited in the enumerate-to-kill window
        // (respawn churn): an executor of this app IS dead, which is
        // the scenario under test — proceed rather than failing the
        // proof spuriously
        killed = p.pid()
      }
      // else: no permission to kill this one — keep scanning
    }
    require(killed > 0,
      s"no executor JVM of app $appId found to kill - wrong master?")
    killed
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0) // local | reliable
    val sfDir = args(1)
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("graft.materialize", mode)
      .config(Tables.RequiredConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ckDir = java.nio.file.Files
      .createTempDirectory(s"graft-faultproof-$mode").toString
    spark.sparkContext.setCheckpointDir(ckDir)

    val entries = Seq("llm_dedup_minhash", "graph_pagerank")
    def hashes(): Map[String, Int] = entries.map { name =>
      name -> SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq.hashCode()
    }.toMap

    // 1. build + first serve under the conf'd strategy
    val before = hashes()

    // 2. kill one executor JVM of THIS app ([[killOneExecutor]]) —
    // preferring one that HOLDS a block of a served entry's cached
    // artifact (GraftBlockBridge): with
    // 2 executors and small build jobs, all of a localCheckpoint's
    // blocks can land on one JVM, and killing the other proves nothing
    // (observed r16: local-mode serve succeeded directly, rebuilt
    // never fired). Targeting the block holder makes the scenario
    // deterministic for both modes: local loses real blocks,
    // reliable survives the loss of the very executor its blocks are on.
    // Crash-safe: the kill itself can fail (TimeoutException from the
    // 30 s onExit wait; the require when no executor matched — wrong
    // master), and an uncaught throw here would exit with NO proof line
    // for the gate to classify (FaultProofStream already wraps its
    // phases for the same reason). A failed kill ships as killed_pid
    // -1 + err + expected_outcome:false.
    // Only the artifacts' own blocks count: a holder of just some
    // unrelated persisted RDD (`rdd_38_0`, observed) is no victim — the
    // serve reads nothing from it, succeeds directly, and the
    // local-mode recovery arm never fires. The artifacts are the
    // checkpoint leaves of each entry's plan; the caches are warm, so
    // building the DataFrames here runs nothing.
    val holding =
      try {
        val artifacts = entries.flatMap { name =>
          SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed
            .collectLeaves().collect {
              case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
            }
        }
        org.apache.spark.GraftBlockBridge
          .executorsHoldingRddBlocks(spark.sparkContext, artifacts)
      } catch { case scala.util.control.NonFatal(_) => Set.empty[String] }
    val (killed, killErr) =
      try { val pid = killOneExecutor(spark, holding); (pid, "") }
      catch { case e: Throwable =>
        (-1L, Option(e.getMessage).getOrElse(e.getClass.getName).take(160))
      }
    // let the loss register (the worker may respawn a FRESH executor;
    // the dead one's block-store contents are gone either way)
    if (killed > 0) Thread.sleep(8000)

    // 3. serve again from the same session's caches, through the
    // library's recovery boundary (r16): checkpoint-block loss
    // invalidates the session's cached artifacts and rebuilds ONCE.
    // `rebuilt` records whether the recovery arm fired — under
    // `reliable` it must NOT (checkpoint files survive the kill, the
    // serve succeeds directly); under `local` the first serve dies
    // with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (localCheckpoint pins
    // blocks to the dead executor) and must come back hash-identical
    // after the one rebuild.
    var rebuilt = false
    val (serveOk, after, err) =
      try {
        val h = Materialize.recovering(spark,
          onRebuild = _ => rebuilt = true)(hashes())
        (true, h, "")
      } catch { case e: Throwable =>
        (false, Map.empty[String, Int],
          Option(e.getMessage).getOrElse(e.getClass.getName).take(160))
      }
    val hashMatch = serveOk && after == before
    val expected = killed > 0 && hashMatch &&
      (if (mode == "reliable") !rebuilt else rebuilt)
    println(s"""{"proof":"faultproof","mode":${jstr(mode)},""" +
      s""""killed_pid":$killed,""" +
      s""""artifact_holders":""" +
      s"""[${holding.toSeq.sorted.map(jstr).mkString(",")}],""" +
      s""""serve_ok":$serveOk,""" +
      s""""hash_match":$hashMatch,"rebuilt":$rebuilt,""" +
      s""""expected_outcome":$expected,""" +
      s""""err":${jstr(if (killErr.nonEmpty) killErr else err)},""" +
      s""""sf":${jstr(sfDir)}}""")
    spark.stop()
    sys.exit(if (expected) 0 else 1)
  }
}

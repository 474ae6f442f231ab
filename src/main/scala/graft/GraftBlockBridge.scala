package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** Block-location bridge for graft's executor-loss fault proof.
  *
  * [[graft.FaultProof]] must kill an executor that actually HOLDS
  * cached RDD blocks — with 2 executors and small build jobs, all of a
  * localCheckpoint's blocks can land on one JVM (whichever registered
  * first), and killing the other one proves nothing: the serve
  * succeeds directly and the recovery arm never fires (observed r16 —
  * the `local`-mode proof flaked exactly this way). Block locations
  * live behind `private[spark]` types (`SparkEnv.blockManager.master`,
  * `BlockManagerMaster.getLocations`), so the lookup sits in this
  * package-placed accessor — the same technique as
  * [[org.apache.spark.sql.GraftColumnBridge]].
  */
object GraftBlockBridge {

  /** Executor ids (as in the backend's `--executor-id` argv) currently
    * holding at least one block of a persisted/checkpointed RDD of
    * this application; "driver" is excluded (local-mode blocks cannot
    * be killed out from under the proof anyway). A non-empty `lineage`
    * narrows the count to RDDs in the lineage of those RDDs — the
    * checkpoints a served query actually reads — so a block of an
    * unrelated persisted RDD cannot pick the victim.
    */
  def executorsHoldingRddBlocks(sc: SparkContext,
      lineage: Seq[RDD[_]] = Nil): Set[String] = {
    val master = SparkEnv.get.blockManager.master
    val seen = scala.collection.mutable.Set[Int]()
    def walk(r: RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    lineage.foreach(walk)
    sc.getPersistentRDDs
      .filter { case (rid, _) => lineage.isEmpty || seen(rid) }
      .flatMap { case (rid, rdd) =>
        (0 until rdd.getNumPartitions).flatMap { p =>
          master.getLocations(RDDBlockId(rid, p)).map(_.executorId)
        }
      }.toSet - "driver"
  }
}

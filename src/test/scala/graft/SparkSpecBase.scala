package graft

import org.apache.spark.graftspec.{BusDrain, CheckpointDir}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM-wide
  * session, never stopped mid-run so suites can share it).
  */
trait SparkSpecBase extends AnyFunSuite {

  /** sf0.001 fixture dir (TESTDATA.md): the unit-test scale. */
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .config("spark.ui.enabled", "false")
    .config(graft.Tables.RequiredConf)
    .getOrCreate()

  /** Every SQL execution `body` runs in the shared session, in
    * completion order. The listener bus is drained before the listener
    * goes on (nothing earlier leaks in) and before it comes off
    * (nothing inside is missed). A cut (`localCheckpoint`/`checkpoint`)
    * is an SQL action, so an iterative build shows each round's
    * executed plan here, the final cut's last.
    */
  def sqlExecutions(body: => Any): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long)
          : Unit = seen.add(qe): Unit
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    BusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; BusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** Runs `body` with the SparkContext checkpoint dir at a fresh temp
    * dir (passed in), then deletes that dir and restores the previous
    * setting. The checkpoint dir is state of the one JVM-wide context:
    * left at a deleted path, the next reliable checkpoint of any suite
    * would fail.
    */
  def withCheckpointDir[T](body: String => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ck").toFile
    sc.setCheckpointDir(dir.toString)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    try body(dir.toString)
    finally {
      rm(dir)
      CheckpointDir.restore(sc, prev)
    }
  }

  /** The reliable checkpoint dirs (`rdd-*`) under a dir handed out by
    * [[withCheckpointDir]] (Spark writes them one level down, under the
    * context's random subdirectory).
    */
  def rddDirs(ckDir: String): Seq[String] =
    Option(new java.io.File(ckDir).listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .map(_.getName).filter(_.startsWith("rdd-"))
}

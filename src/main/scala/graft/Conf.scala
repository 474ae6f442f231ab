package graft

import org.apache.spark.sql.SparkSession

/** Session-conf knobs for the constants that are otherwise sized to the
  * test fixture (SURVEY §5: "constants sized so the fixture exercises
  * the behavior the op exists for"). Every knob defaults to the shipped
  * fixture value — the DuckDB oracles are built against those defaults,
  * so overriding a knob moves an entry off its oracle (the `…Of` seams
  * and ConfKnobsSpec cover non-default values); a 100 TB deployment
  * sets these once per session.
  *
  * | key | default | consumer |
  * |---|---|---|
  * | `graft.shuffle.rankBuckets`  | 4096      | Curation.shuffleAssignOf |
  * | `graft.sim.numQueries`      | 50        | Similarity fixture entries |
  * | `graft.sim.numCentroids`    | 16        | Similarity.cachedCents (IVF, cache key ("ivf", K)) |
  * | `graft.encode.vocabSize`    | 256       | TextOps.encode |
  * | `graft.coverage.vocabSizes` | 4,8,16,32 | TextOps.vocabCoverage |
  * | `graft.coverage.selectK`    | 10        | Curation.coverageSelect |
  * | `graft.coverage.universe`   | 512       | Curation.coverageSelect |
  * | `graft.sim.mrlBudgets`      | 8,16,32,64 | Similarity.matryoshka |
  */
object Conf {

  def long(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.get(key, default.toString).toLong

  def int(spark: SparkSession, key: String, default: Int): Int =
    spark.conf.get(key, default.toString).toInt

  /** Comma-separated longs (e.g. `"256,1024,4096"`). */
  def longs(spark: SparkSession, key: String,
            default: Seq[Long]): Seq[Long] =
    spark.conf.getOption(key) match {
      case Some(v) => v.split(",").map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSeq
      case None => default
    }
}

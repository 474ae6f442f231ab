package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Puts a context's checkpoint dir back verbatim, unset included.
  * `setCheckpointDir` always creates a fresh random subdirectory under
  * its argument, so it cannot restore an earlier setting;
  * `checkpointDir` is `private[spark]`, hence the package.
  */
object CheckpointDir {
  def restore(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}

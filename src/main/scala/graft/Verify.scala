package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(Tables.RequiredConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-loop subset: SPARK_GRAFT_ONLY=name1,name2 runs (and dumps the
    // oracle for) just those entries; unset = the driver's full run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String) = only.forall(_.contains(name))
    // Failures must be LOUD (round-7 lesson: a swallowed analysis error
    // made 12 broken queries vanish from the correctness file instead of
    // showing as red rows). On failure, write a one-row sentinel parquet
    // (schema `_graft_error: string`) under the query's name — the
    // driver's DuckDB compare then reports a schema/hash mismatch for
    // that key instead of silently dropping it — and collect the
    // failures into `_failures.json` alongside the oracle dump.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        // each dump serves through the r16 recovery boundary: if a
        // session-cached artifact's checkpoint blocks died with an
        // executor mid-run, SessionCache.invalidate(spark) drops every
        // session cache and the query rebuilds ONCE instead of failing
        // the whole dump
        // ([[Materialize.recovering]]; any other failure class still
        // lands in the loud-red path below)
        try Materialize.recovering(spark,
          m => System.err.println(s"[verify] $name: rebuilt caches " +
            s"after checkpoint loss ($m)")) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          failures(name) = msg
          System.err.println(s"[verify] FAILED $name: $msg")
          try {
            import spark.implicits._
            Seq(msg).toDF("_graft_error").coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case _: Throwable => () }
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}

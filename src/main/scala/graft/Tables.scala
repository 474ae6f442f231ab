package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet star-schema fixture loaders (TESTDATA.md / FIXTURES.md §2).
  *
  * The reference reads whitespace-tokenized text lines
  * (`TextInputFormat`, apriori/apriori_final.java:259,
  * multilinereg/multilinereg.java:181); the engine reads columnar Parquet
  * with explicit schemas so Catalyst can prune columns and push filters to
  * the scan — the first requirement for 100 TB behavior.
  */
object Tables {

  /** Session conf every graft session needs, applied by the [[Verify]] /
    * [[Bench]] / test-spec builders (NOT mutated here at read time — a
    * conf write inside a loader races with concurrent planning on other
    * threads of the same session): events.parquet carries
    * TIMESTAMP(NANOS), which Spark's Parquet reader rejects unless mapped
    * to a nanosecond LongType; queries that need a timestamp convert
    * explicitly (timestamp_micros(ts / 1000)).
    */
  val RequiredConf: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Session-lifetime RELATION cache: one resolved `spark.read.parquet`
    * DataFrame per (session, dir/name). This caches METADATA only — the
    * file listing and the footer-inferred schema inside the relation's
    * `InMemoryFileIndex` — never rows: every action on the returned
    * DataFrame still scans the parquet files. Without it, each of the
    * engine's query invocations re-lists the directory and re-reads a
    * parquet footer per table reference — pure driver-side latency
    * repeated thousands of times across a bench run, and at warehouse
    * scale the repeated listing of a heavily-partitioned table is a
    * multi-second driver stall (guide §6 "file listing"). Same
    * lifetime/staleness contract as every other [[SessionCache]]:
    * fixture dirs are immutable; a consumer that rewrites parquet under
    * a cached dir calls [[SessionCache.invalidate]] at the boundary —
    * the relation's file listing is stale after a rewrite, so a
    * retained entry fails its next scan with FILE_NOT_EXIST.
    * Release is a no-op — there are no persisted blocks to reclaim.
    */
  private val relCache = new SessionCache[DataFrame](_ => ())

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Self-heal for library consumers whose session builder missed
    // [[RequiredConf]]: write only when the effective value differs
    // (getOption can't distinguish "unset" from the registered default,
    // so compare values). One mutation on the first events read of a
    // bare session, a pure read afterwards — unlike the unconditional
    // per-read set this replaces; concurrent first reads write the same
    // constant. Runs BEFORE the relation is first built and cached, so
    // the cached relation's schema conversion always sees the conf.
    if (name == "events") RequiredConf.foreach { case (k, v) =>
      if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
    }
    relCache.getOrBuild(spark, dir, name)(
      spark.read.parquet(s"$dir/$name.parquet"))
  }
}

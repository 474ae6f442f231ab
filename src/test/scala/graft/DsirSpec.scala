package graft

import org.apache.spark.sql.functions._
import graft.operators.Dsir

/** Semantics guards for the DSIR-style importance ranking that the
  * DuckDB oracle (a full replay) cannot express directionally: the
  * selection must actually ENRICH for the target distribution, and the
  * per-source quota arithmetic must hold exactly.
  */
class DsirSpec extends SparkSpecBase {

  private lazy val docs =
    graft.Tables(spark, Sf, "documents").cache()
  private lazy val weights = Dsir.dsirWeightsOf(docs).cache()

  test("every document is weighted, with at least one gram each") {
    val n = docs.count()
    assert(weights.count() === n)
    assert(weights.where(col("n_grams") < 1L).count() === 0L)
    assert(weights.where(col("dsir_score") < 0L).count() === 0L)
  }

  test("bucket table: target counts never exceed raw counts") {
    val bad = Dsir.bucketRatios(docs)
      .where(col("ct") > col("cr")).count()
    assert(bad === 0L)
  }

  test("selection enriches for the target: seed-source docs score higher " +
    "on average than the raw pool") {
    val flagged = docs
      .select(col("doc_id"), (col("lang") === "en" &&
        col("source").isin(Dsir.SeedSources: _*)).as("is_target"))
      .join(weights, Seq("doc_id"))
    val Array(tgt, all) = flagged
      .agg(avg(when(col("is_target"), col("dsir_mean"))),
        avg(col("dsir_mean")))
      .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    assert(tgt > all,
      s"target mean $tgt should exceed pool mean $all — the ranking " +
        "would otherwise not be selecting toward the target at all")
  }

  test("per-source quota is exactly ceil(n/4), filled by the top means") {
    val sample = Dsir.dsirSampleOf(docs)
    val quotas = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = sample.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet === quotas.keySet)
    kept.foreach { case (src, k) =>
      assert(k === (quotas(src) + 3) / 4, s"source $src")
    }
    // brute-force the selection from the weights table
    val bySource = docs.select("doc_id", "source")
      .join(weights, Seq("doc_id"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("dsir_mean")))
      .groupBy(_._1)
    val expect = bySource.iterator.flatMap { case (_, rows) =>
      rows.sortBy(t => (-t._3, t._2)).take((rows.length + 3) / 4)
        .map(_._2)
    }.toSet
    val got = sample.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expect)
  }

  test("curate_dsir: selection within the strict survivors, exact quotas") {
    val strict = graft.operators.Curation.curateStrict(spark, Sf)
      .select("doc_id").collect().map(_.getAs[Long]("doc_id")).toSet
    val kept = Dsir.curateDsir(spark, Sf).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSet.subsetOf(strict))
    // per-source quota over the SURVIVOR counts, not the raw corpus
    val survivorsBySrc = docs.select("doc_id", "source").collect()
      .filter(r => strict(r.getAs[Long]("doc_id")))
      .groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    val keptBySrc = kept.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.length).toMap
    assert(keptBySrc.keySet === survivorsBySrc.keySet.filter(
      s => survivorsBySrc(s) > 0))
    keptBySrc.foreach { case (src, k) =>
      assert(k === (survivorsBySrc(src) + 3) / 4, s"source $src")
    }
  }

  test("curate_dsir serves from the session index; invalidate rebuilds") {
    import org.apache.spark.sql.execution.RDDScanExec
    def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.sparkPlan
        .collect { case r: RDDScanExec => r.rdd.id }.toSet
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dsir_mean"),
        r.getAs[Long]("rk"))).toSet
    val first = rows(Dsir.curateDsir(spark, Sf)) // warm the index
    // repeated calls must read the SAME checkpointed survivor/ratio
    // RDDs (the f74f64e link-pred pin), not rebuild the gate chain
    val a = Dsir.curateDsir(spark, Sf)
    val b = Dsir.curateDsir(spark, Sf)
    assert(leaves(a).nonEmpty && (leaves(a) intersect leaves(b)).nonEmpty,
      "repeated calls did not reuse the cached DSIR index")
    assert(rows(a) == first)
    // the boundary call drops the index; a rebuilt index reproduces
    // the identical selection
    SessionCache.invalidate(spark, Sf)
    val c = Dsir.curateDsir(spark, Sf)
    assert((leaves(c) intersect leaves(a)).isEmpty,
      "invalidate left the old checkpoints in the plan")
    assert(rows(c) == first)
  }

  test("one dir invalidate drops the kept set and the DSIR index " +
    "derived from it together") {
    import org.apache.spark.sql.execution.RDDScanExec
    def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.sparkPlan
        .collect { case r: RDDScanExec => r.rdd.id }.toSet
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dsir_mean"),
        r.getAs[Long]("rk"))).toSet
    val a = Dsir.curateDsir(spark, Sf)
    val before = rows(a)
    val la = leaves(a)
    val lk = leaves(graft.operators.Curation.curateStrict(spark, Sf))
    // the survivors here DERIVE from curateStrict's kept set (another
    // operator's cache): both must drop on the one call, or a rebuilt
    // gate would silently pair with stale DSIR state
    SessionCache.invalidate(spark, Sf)
    val b = Dsir.curateDsir(spark, Sf)
    assert((leaves(b) intersect la).isEmpty,
      "invalidate left the derived DSIR checkpoints cached")
    assert((leaves(graft.operators.Curation.curateStrict(spark, Sf))
      intersect lk).isEmpty, "invalidate left the kept set cached")
    assert(rows(b) == before)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** DSIR-style data selection via hashed n-gram importance ranking
  * (additive §2.11 — Xie et al., "Data Selection for Language Models
  * via Importance Resampling", NeurIPS 2023; the reference engine has
  * no selection machinery at all — its only corpus op is the exact
  * wordcount reduce, apriori/apriori_final.java:49-62).
  *
  * The published recipe: featurize every document into hashed n-gram
  * bucket counts, fit two bag-of-ngrams distributions — p over a small
  * TARGET corpus (the domain you want more of) and q over the RAW pool
  * — and resample raw documents by importance weight p(doc)/q(doc).
  * Here the feature space is the corpus's distinct unigrams ∪ bigrams
  * (the proven [[Shingles]] kernel, set semantics — the paper uses bag
  * counts; sets keep the whole chain on the already-spec'd shingling
  * spellings and make each doc's evidence bounded by its distinct-gram
  * count) hashed into [[DsirBuckets]] md5 buckets, and the weight is an
  * INTEGER-SCALED likelihood-ratio sum rather than the paper's
  * log-ratio sum:
  *
  *   r[b]       = (Scale · (ct[b]+1)) DIV (cr[b]+1)     (add-1 smoothing)
  *   score(doc) = Σ_{g ∈ grams(doc)} r[bucket(g)]
  *   mean(doc)  = score DIV n_grams
  *
  * Rationale: a log-likelihood sum needs `ln`, whose last-ulp behavior
  * is not pinned across engines, and a float sum is order-dependent —
  * either would break the bit-exact DuckDB hash gate. Integer DIV and
  * integer sums are exact and order-free in both engines, and the
  * resulting ranking preserves the paper's intent: documents whose
  * grams concentrate where the target distribution outweighs the raw
  * one rank first. (Overflow headroom: r ≤ Scale·(Tt+1), summed over a
  * doc's ≤ thousands of grams — at web scale shrink [[DsirScale]] or
  * widen to DECIMAL(38,0); both engines agree either way.)
  *
  * Scale shape: TWO corpus scans, no per-doc joins against anything
  * big. Scan 1 aggregates the gram stream to ≤ [[DsirBuckets]] bucket
  * rows carrying BOTH counts (one `count_if` pass — the target flag is
  * a row-local predicate, so target and raw distributions come out of
  * one aggregation). The ≤ 2048-row ratio table then BROADCASTS; scan 2
  * re-derives the gram stream, hash-joins it against the broadcast, and
  * one partial-agg groupBy(doc_id) produces the weights. The selection
  * entry ranks WITHIN EACH SOURCE (rank ≤ ¼ of the source's docs) — a
  * partitioned window, never a global sort, matching how DSIR is run
  * per-shard in production.
  */
object Dsir {

  /** Hashed feature-space width. 2048 against the fixture's ~25k-token
    * vocabulary (plus bigrams) keeps every bucket populated, so the
    * add-1-smoothed ratios are driven by data, not smoothing.
    */
  val DsirBuckets = 2048L

  /** Integer scale of the per-bucket likelihood ratio. */
  val DsirScale = 1000000L

  /** The target corpus: English documents from the trusted seed
    * sources — the role Wikipedia+books play in the paper.
    */
  val SeedSources = Seq("src1", "src2", "src3")

  /** Fraction kept per source by [[dsirSample]]: rank ≤ ceil(n/4). */
  val KeepDenom = 4L

  /** md5 bucket of gram `g` — the [[Sketch]]/Bloom hex-window recipe. */
  private def bucketOf(g: Column): Column =
    conv(substring(md5(g), 1, 8), 16, 10).cast("long") % DsirBuckets

  private def sqlBucket(t: String): String =
    s"('0x' || substr(md5($t), 1, 8))::BIGINT % $DsirBuckets"

  private def isTarget: Column =
    col("lang") === "en" && col("source").isin(SeedSources: _*)

  /** (doc_id, is_target, b): one row per distinct unigram/bigram per
    * doc, bucketed. Both scans ride this shape.
    */
  private def gramStream(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), isTarget.as("is_target"),
        explode(array_union(Shingles.shingles(1), Shingles.shingles(2)))
          .as("g"))
      .select(col("doc_id"), col("is_target"), bucketOf(col("g")).as("b"))

  /** The ≤ [[DsirBuckets]]-row bucket table (b, ct, cr, r): target and
    * raw gram-instance counts from ONE aggregation, and the scaled
    * smoothed ratio.
    */
  def bucketRatios(docs: DataFrame): DataFrame =
    gramStream(docs)
      .groupBy("b")
      .agg(count_if(col("is_target")).as("ct"), count(lit(1)).as("cr"))
      .select(col("b"), col("ct"), col("cr"),
        expr(s"($DsirScale * (ct + 1)) DIV (cr + 1)").as("r"))

  /** Session-lifetime DSIR index per (session, dir) — the r11 serving
    * discipline ([[graft.operators.Dedup]] `cachedIdx`,
    * [[graft.operators.Graph]] triangle kernel) applied to the two
    * re-derivable inputs every llm_dsir / llm_curate_dsir call was
    * recomputing from the scan (the 3.1 s r11 floor, the most
    * expensive entry on the board):
    *
    *  - `strict`: the strict-gate SURVIVOR corpus (the full gate
    *    report costs several corpus scans);
    *  - `ratios_raw` / `ratios_strict`: the ≤ [[DsirBuckets]]-row
    *    bucket-distribution table over the raw pool / the survivors
    *    (one gram-stream aggregation each).
    *
    * A warm call is then ONE gram scan over the (cached) corpus
    * joined against the broadcast ratio table plus the per-source
    * rank — the honest per-query remainder. The `…Of` forms stay
    * cache-free (arbitrary-DataFrame inputs; identity-keyed caching
    * would leak). Boundary contract: callers that rewrite parquet
    * under a cached dir call [[graft.SessionCache.invalidate]] — the
    * survivors here derive from [[Curation]]'s kept set under the same
    * dir, so both layers refresh together.
    */
  private val cache =
    new graft.SessionCache[DataFrame](graft.Materialize.release)

  private def cachedStrictDocs(spark: SparkSession, dir: String)
      : DataFrame =
    cache.getOrBuild(spark, dir, "strict")(
      graft.Materialize.widened(graft.Materialize.session(spark))(
        Tables(spark, dir, "documents")
          .join(Curation.curateStrict(spark, dir).select("doc_id"),
            "doc_id")))

  private def cachedRatios(spark: SparkSession, dir: String,
      kind: String, docs: => DataFrame): DataFrame =
    cache.getOrBuild(spark, dir, "ratios_" + kind)(
      graft.Materialize.session(spark)(bucketRatios(docs)))

  /** Per-document importance weights over the WHOLE raw pool:
    * (doc_id, n_grams, dsir_score, dsir_mean).
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    dsirWeightsWith(docs, cachedRatios(spark, dir, "raw", docs))
  }

  def dsirWeightsOf(docs: DataFrame): DataFrame =
    dsirWeightsWith(docs, bucketRatios(docs))

  private def dsirWeightsWith(docs: DataFrame, ratios: DataFrame)
      : DataFrame =
    gramStream(docs)
      .join(broadcast(ratios.select("b", "r")), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("r")).as("dsir_score"))
      .select(col("doc_id"), col("n_grams"), col("dsir_score"),
        expr("dsir_score DIV n_grams").as("dsir_mean"))

  /** The resampled training set: within each source, the top quarter
    * of documents by mean importance (ties to the smaller doc_id).
    * Per-source ranking is a partitioned window — no global sort — and
    * `rk ≤ ceil(n/4)` is exact integer arithmetic on the source's
    * window count.
    */
  def dsirSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    dsirSampleWith(docs, cachedRatios(spark, dir, "raw", docs))
  }

  def dsirSampleOf(docs: DataFrame): DataFrame =
    dsirSampleWith(docs, bucketRatios(docs))

  private def dsirSampleWith(docs: DataFrame, ratios: DataFrame)
      : DataFrame = {
    val w = Window.partitionBy("source")
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(dsirWeightsWith(docs, ratios), Seq("doc_id"))
      .withColumn("rk", row_number().over(
        w.orderBy(col("dsir_mean").desc, col("doc_id"))).cast("long"))
      .withColumn("n_src", count(lit(1)).over(w))
      .where(col("rk") <= expr(s"(n_src + ${KeepDenom - 1}) DIV $KeepDenom"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("dsir_mean"), col("rk"))
  }

  /** Gates THEN selection (the `llm_curate_diverse` discipline, with
    * importance in place of diversity): the strict curation gate cuts
    * the corpus first, and DSIR is re-estimated WITHIN the clean pool —
    * both the target and raw distributions come from surviving docs, so
    * junk the gates removed can no longer distort the bucket ratios —
    * then the per-source top quarter of the survivors is kept. This is
    * the budget step of a production pipeline: clean everything, then
    * spend the token budget on the quarter that looks most like the
    * trusted sources.
    */
  def curateDsir(spark: SparkSession, dir: String): DataFrame = {
    val survivors = cachedStrictDocs(spark, dir)
    dsirSampleWith(survivors,
      cachedRatios(spark, dir, "strict", survivors))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dsir_weights" -> dsirWeights,
    "llm_dsir_sample" -> dsirSample,
    "llm_curate_dsir" -> curateDsir
  )

  /** Shared oracle CTE chain over any (doc_id, text, lang, source)
    * relation `src`: the gram stream (unigrams ∪ bigrams via the
    * [[Shingles.shSql]] spellings), the one-pass bucket table, and the
    * per-doc weights.
    */
  private def weightsCte(src: String = "documents"): String =
    s"""${Shingles.shSql(1, src, "u")},
       |${Shingles.shSql(2, src, "bi")},
       |grams AS (
       |  SELECT doc_id, is_target, ${sqlBucket("g")} AS b FROM (
       |    SELECT d.doc_id,
       |      (d.lang = 'en' AND d.source IN
       |        (${SeedSources.map("'" + _ + "'").mkString(", ")}))
       |        AS is_target,
       |      unnest(list_distinct(flatten([uni.s, bi.s]))) AS g
       |    FROM $src d
       |    JOIN ush uni ON uni.doc_id = d.doc_id
       |    JOIN bish bi ON bi.doc_id = d.doc_id
       |  )),
       |buckets AS (
       |  SELECT b, count(*) FILTER (is_target)::BIGINT AS ct,
       |         count(*)::BIGINT AS cr,
       |         ($DsirScale * (count(*) FILTER (is_target) + 1))
       |           // (count(*) + 1) AS r
       |  FROM grams GROUP BY b),
       |weights AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_grams,
       |         sum(r)::BIGINT AS dsir_score,
       |         (sum(r) // count(*))::BIGINT AS dsir_mean
       |  FROM grams JOIN buckets USING (b)
       |  GROUP BY doc_id)""".stripMargin

  /** The rank-and-quota selection over `src`, assuming [[weightsCte]]'s
    * `weights` CTE is in scope.
    */
  private def sampleSql(src: String): String =
    s"""ranked AS (
       |  SELECT d.doc_id, d.lang, d.source, w.dsir_mean,
       |    row_number() OVER (PARTITION BY d.source
       |      ORDER BY w.dsir_mean DESC, d.doc_id)::BIGINT AS rk,
       |    count(*) OVER (PARTITION BY d.source)::BIGINT AS n_src
       |  FROM $src d JOIN weights w ON w.doc_id = d.doc_id)
       |SELECT doc_id, lang, source, dsir_mean, rk
       |FROM ranked
       |WHERE rk <= (n_src + ${KeepDenom - 1}) // $KeepDenom""".stripMargin

  val oracle: Map[String, String] = Map(
    "llm_dsir_weights" ->
      s"""WITH ${weightsCte()}
         |SELECT doc_id, n_grams, dsir_score, dsir_mean
         |FROM weights""".stripMargin,
    "llm_dsir_sample" ->
      s"""WITH ${weightsCte()},
         |${sampleSql("documents")}""".stripMargin,
    // the strict-gate oracle (itself a nested WITH) becomes the doc
    // relation both the distributions and the ranking see
    "llm_curate_dsir" ->
      s"""WITH strictdocs AS (
         |  SELECT d.* FROM documents d
         |  JOIN (${Curation.oracle("llm_curate_strict")}) k
         |    ON k.doc_id = d.doc_id),
         |${weightsCte("strictdocs")},
         |${sampleSql("strictdocs")}""".stripMargin
  )
}

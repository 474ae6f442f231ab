package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators (SURVEY.md §2.11 extension): the three
  * steps between "scored documents" and "training shards" in an
  * LLM-data pipeline — deterministic stratified sampling (data mixing),
  * token-budget shard packing, and the end-to-end curation gate that
  * composes quality + language + near-dedup into the final corpus.
  *
  * Determinism contract (same as the rest of the library): sampling
  * uniforms are md5-derived and divided by 2³² (a power of two — the
  * division is EXACT in IEEE doubles, so Spark and DuckDB compare the
  * same bits against the same rate constants); packing arithmetic is
  * all BIGINT.
  */
object Curation {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select("doc_id", "lang", "text")

  // ---- deterministic stratified sampling (data mixing) ----

  /** Per-language keep rates: the mixing weights of a pretraining data
    * recipe (up-sample English, down-sample the tail). Unlisted
    * languages fall through to [[DefaultRate]].
    */
  val SampleRates: Seq[(String, Double)] =
    Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25)
  val DefaultRate = 0.1

  /** Keep a document iff u(doc_id) < rate(lang), where u is an
    * md5-derived uniform in [0, 1). Hash-based, not `sample()`: the
    * decision is a pure function of the row, so it is reproducible
    * across runs/partitionings/engines, survives re-partitioning, and
    * extends to consistent joins (two tables sampled on the same key
    * keep the same entities). Embarrassingly parallel — no shuffle.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    sampleStratifiedOf(docs(spark, dir))

  def sampleStratifiedOf(corpus: DataFrame): DataFrame = {
    val u = graft.functions.Md5Uniform.uniform(col("doc_id"))
    val rate = SampleRates.foldLeft(lit(DefaultRate)) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    corpus.select(col("doc_id"), col("lang"), u.as("u"))
      .where(col("u") < rate)
  }

  // ---- deterministic fixed-size per-stratum sample ----

  /** Docs kept per language by [[sampleTopN]]. */
  val TopNPerLang = 20

  /** Exactly-N-per-stratum sample (vs [[sampleStratified]]'s rate-based
    * keep): rank each language's docs by md5(doc_id) — a deterministic
    * shuffle of the stratum — and keep the first N. The reservoir-sample
    * use case (fixed eval slices, per-domain inspection samples) with
    * none of reservoir sampling's run-order dependence.
    *
    * Scale shape: `row_number` over (lang) looks like a one-partition-
    * per-language serialization, but Catalyst inserts WindowGroupLimit:
    * each input partition pre-prunes to its local top-N per language
    * BEFORE the shuffle, so exchange volume is ≤ N·|langs|·partitions
    * rows, independent of corpus size — same plan shape the top-k
    * similarity queries assert in PlanShapeSpec.
    */
  def sampleTopN(spark: SparkSession, dir: String): DataFrame =
    sampleTopNOf(docs(spark, dir))

  def sampleTopNOf(corpus: DataFrame, n: Int = TopNPerLang): DataFrame =
    corpus.select(col("doc_id"), col("lang"),
      md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy("h", "doc_id")).cast("long"))
      .where(col("rk") <= n)
      .select("doc_id", "lang", "rk")

  // ---- deterministic train/val/test split ----

  /** Split fractions: train takes u ∈ [0, [[TrainFrac]]), val the next
    * [[ValFrac]], test the remainder.
    */
  val TrainFrac = 0.9
  val ValFrac = 0.05

  /** The val/test boundary as the EXACT double Spark computes
    * (0.9 + 0.05 rounds up one ulp from the literal 0.95); the oracle
    * SQL interpolates this value so both engines compare u against the
    * same bits.
    */
  val ValCut: Double = TrainFrac + ValFrac

  /** Salt for the split uniform, so it is independent of
    * [[sampleStratifiedOf]]'s (which hashes the bare doc_id): whether a
    * document is sampled into the corpus says nothing about which split
    * it lands in.
    */
  val SplitSalt = "split:"

  /** Deterministic train/val/test assignment: split by thresholding the
    * salted md5 uniform, the standard leakage-safe split for training
    * corpora — a pure function of doc_id, so it is stable across runs,
    * partitionings, and engines, and any derived table (chunks, shards,
    * embeddings) inherits the SAME split by joining on doc_id.
    * Embarrassingly parallel, zero shuffles.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    splitAssignOf(docs(spark, dir))

  def splitAssignOf(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), splitU(col("doc_id")).as("u"))
      .withColumn("split", splitFromU(col("u")))

  /** The salted split uniform / its thresholding, as standalone column
    * expressions — so any doc_id-keyed table (e.g. the probe feature
    * table in `llm_quality_eval`) can derive its split row-locally, no
    * join against a split table.
    */
  private[operators] def splitU(id: Column): Column =
    graft.functions.Md5Uniform.uniform(
      concat(lit(SplitSalt), id.cast("string")))

  private[operators] def splitFromU(u: Column): Column =
    when(u < TrainFrac, "train").when(u < ValCut, "val").otherwise("test")

  /** GROUP-aware leakage-safe split — the hole the per-document
    * [[splitAssignOf]] leaves open: when near-duplicate documents land
    * on opposite sides of a train/test split, the eval set leaks
    * (paraphrase-level memorization reads as generalization — the same
    * failure benchmark decontamination guards against, arising INSIDE
    * the corpus). Fix: the split uniform hashes a GROUP key — the
    * near-dup component id from [[Dedup.clusters]] for clustered
    * documents, the doc_id itself otherwise — so every member of a
    * near-dup cluster lands on the same side by construction. Because
    * singleton group keys equal the doc_id and the salt is unchanged,
    * un-clustered documents keep EXACTLY their `llm_split` assignment
    * (spec-pinned): adopting the grouped split only moves documents
    * that were leaking.
    *
    * Scale shape: the component table rides the session dedup index
    * cache; one left equi-join on doc_id, then the row-local salted
    * hash — the split stays a pure function of (doc_id → group).
    */
  def splitGrouped(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"))
      .join(Dedup.clusters(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_key"))
      .withColumn("split", splitFromU(splitU(col("group_key"))))

  // ---- language mixing weights ----

  /** Additive-smoothing constant for [[mixWeights]] (in tokens). */
  val MixSmooth = 1000L

  /** Per-language corpus statistics and training mixing weights: doc and
    * token counts, raw token share, and an additively smoothed weight
    * (+[[MixSmooth]] tokens per language) that keeps tail languages from
    * rounding to zero — the summary a data-mixing recipe is tuned
    * against. One map-side-combined aggregation over the corpus plus a
    * broadcast of the single global-totals row; every number is a BIGINT
    * sum or an exact int/int double division, so the oracle hash-matches
    * bit-for-bit.
    */
  def mixWeights(spark: SparkSession, dir: String): DataFrame =
    mixWeightsOf(docs(spark, dir))

  def mixWeightsOf(corpus: DataFrame): DataFrame = {
    val perLang = corpus.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val totals = perLang.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_langs"))
    perLang.join(broadcast(totals))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
          .as("token_share"),
        ((col("n_tokens") + MixSmooth).cast("double")
          / (col("tot_tokens") + lit(MixSmooth) * col("n_langs"))
            .cast("double")).as("mix_weight"))
  }

  /** Shard width for [[datasetHash]]'s first digest level —
    * fixture-scaled (500 docs → 4 shards) so the two-level structure is
    * actually exercised; a real corpus would shard far coarser.
    */
  val HashShard = 128L

  /** Deterministic corpus content fingerprint — the reproducibility
    * manifest entry a training run pins its data to ("this exact
    * corpus"): a two-level Merkle-style digest. Level 1: each doc's
    * content hash md5(doc_id:text), rolled per shard (doc_id div
    * [[HashShard]]) into md5(concat of member hashes in doc_id order).
    * Level 2 (the CORPUS row, shard = −1): md5 over the shard digests
    * in shard order. Any changed byte, added doc, or dropped doc flips
    * its shard digest and therefore the corpus digest; equal digests
    * across two runs/engines certify byte-identical data.
    *
    * Scale shape: level 1 is one partial-aggregated groupBy to
    * corpus/[[HashShard]] rows (the in-shard concat is bounded by the
    * shard width); level 2 aggregates THOSE rows — the driver never
    * sees documents, and nothing concatenates more than a shard. The
    * output doubles as the per-shard audit: diff two corpus versions'
    * tables to localize which shards changed.
    */
  def datasetHash(spark: SparkSession, dir: String): DataFrame =
    datasetHashOf(docs(spark, dir))

  def datasetHashOf(corpus: DataFrame): DataFrame = {
    val perDoc = corpus.select(
      expr(s"doc_id div $HashShard").as("shard"), col("doc_id"),
      md5(concat_ws(":", col("doc_id"), col("text"))).as("h"))
    val shards = perDoc.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws("",
          array_sort(collect_list(struct(col("doc_id"), col("h"))))
            .getField("h"))).as("digest"))
    val corpusRow = shards
      .agg(sum(col("n_docs")).as("n_docs"),
        md5(concat_ws("",
          array_sort(collect_list(struct(col("shard"), col("digest"))))
            .getField("digest"))).as("digest"))
      .select(lit(-1L).as("shard"), col("n_docs"), col("digest"))
    shards.select(col("shard"), col("n_docs"), col("digest"))
      .unionByName(corpusRow)
  }

  /** Temperature-scaled multilingual mixing (the XLM-R / mT5 rule):
    * sampling weight ∝ share^(1/τ) with τ = 2, i.e. ∝ √share — high-
    * resource languages are down-weighted, low-resource ones boosted,
    * the standard fix for English drowning the tail. τ = 2 is chosen
    * deliberately: the exponent becomes `sqrt`, which is correctly
    * rounded in both engines, where a general `pow` is not — so unlike
    * the paper's arbitrary-τ form, this table is bit-exact behind the
    * hash gate. The normalizer (a sum of |langs| irrational doubles,
    * order-dependent) folds left in lang order on both sides — the
    * 0.0-seeded ascending fold the caption-score oracle established.
    * `boost` = temp_weight / natural share is the up/down-sampling
    * factor a mixing loop actually applies.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame =
    mixTemperatureOf(docs(spark, dir))

  def mixTemperatureOf(corpus: DataFrame): DataFrame = {
    val perLang = corpus.groupBy("lang").agg(
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("tot"))
    val shares = perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot").cast("double"))
          .as("share"))
      .withColumn("s", sqrt(col("share")))
    val denom = shares.agg(
      aggregate(sort_array(collect_list(struct(col("lang"), col("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("denom"))
    shares.crossJoin(broadcast(denom))
      .select(col("lang"), col("n_tokens"), col("share"),
        (col("s") / col("denom")).as("temp_weight"),
        ((col("s") / col("denom")) / col("share")).as("boost"))
  }

  /** Token-budget multiple and per-language up-sampling cap for
    * [[mixEpochs]]: the training run sees [[EpochBudgetMult]]× the
    * corpus' tokens, and no language repeats more than [[MaxEpochs]]
    * times (the Llama-style repetition cap — past ~4 epochs repeated
    * data stops helping).
    */
  val EpochBudgetMult = 2L
  val MaxEpochs = 4.0

  /** Epoch / repetition schedule — the step between [[mixWeightsOf]]'s
    * target mixture and an actual training run: given a token budget of
    * [[EpochBudgetMult]]× the corpus, each language's repeat factor is
    * `min(MaxEpochs, budget·w_l / T_l)` — low-resource languages
    * up-sample toward the smoothed target until the repetition cap,
    * high-resource ones run under one epoch. `planned_tokens` =
    * epochs·T_l is what the language contributes to the run.
    *
    * Determinism: weights and totals are exact-integer ratios, the
    * epoch formula is two IEEE ops in a fixed order, and there are NO
    * cross-row double sums (a realized-share column would need an
    * order-pinned double fold; the reader derives shares downstream).
    *
    * Scale shape: [[mixWeightsOf]]'s one aggregation to |langs| rows
    * plus a 1-row broadcast total — nothing further touches the corpus.
    */
  def mixEpochs(spark: SparkSession, dir: String): DataFrame =
    mixEpochsOf(docs(spark, dir))

  def mixEpochsOf(corpus: DataFrame): DataFrame = {
    val w = mixWeightsOf(corpus)
    val tot = w.agg(sum(col("n_tokens")).as("tot"))
    val epochs = least(lit(MaxEpochs),
      (col("mix_weight") * (col("tot") * EpochBudgetMult).cast("double"))
        / col("n_tokens").cast("double"))
    w.join(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("mix_weight"), epochs.as("epochs"),
        (epochs * col("n_tokens").cast("double")).as("planned_tokens"))
  }

  /** The epoch schedule MATERIALIZED — [[mixEpochs]] turned into the
    * actual training manifest: each document of language l appears
    * ⌊epochs_l⌋ times plus one more with probability frac(epochs_l),
    * decided by the salted md5 uniform (`:ups`, disjoint from the
    * `:mix` and split salts). Languages under one epoch (epochs < 1)
    * subsample to exactly that fraction; capped languages repeat
    * [[MaxEpochs]] times — the Llama-style up-sampling plan a data
    * loader would consume, with `epoch` as the pass index. The
    * expected per-language token total is [[mixEpochs]]'
    * planned_tokens.
    *
    * Scale shape: the |langs|-row schedule broadcasts; the generator
    * is row-local (explode of a ≤ [[MaxEpochs]]-element sequence), so
    * the output materializes with zero shuffles.
    */
  def mixUpsample(spark: SparkSession, dir: String): DataFrame =
    mixUpsampleOf(docs(spark, dir))

  def mixUpsampleOf(corpus: DataFrame): DataFrame = {
    val sched = mixEpochsOf(corpus).select(col("lang"), col("epochs"))
    corpus.select(col("doc_id"), col("lang"))
      .join(broadcast(sched), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (floor(col("epochs")).cast("long") +
          when(graft.functions.Md5Uniform.uniform(
            concat(col("doc_id").cast("string"), lit(":ups")))
            < col("epochs") - floor(col("epochs")), 1L).otherwise(0L))
          .as("n"))
      // sequence(1, 0) would run DESCENDING in Spark — keep the guard
      .where(col("n") >= 1L)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("n"))).as("epoch"))
  }

  /** Fraction of total corpus tokens [[mixApply]] targets. */
  val MixTargetFrac = 0.5

  /** Mixing weights APPLIED — the loop-closer after [[mixWeights]]:
    * sample each language at `keep_rate = min(1, frac·w_l / share_l)` so
    * the surviving corpus approaches the smoothed target mixture at
    * [[MixTargetFrac]] of the original token budget. The rates are a
    * COMPUTED #langs-row table (not config literals like
    * [[sampleStratifiedOf]]) — aggregated once, broadcast back onto the
    * corpus — and the per-doc decision is the salted md5 uniform, so
    * membership is deterministic, leakage-free w.r.t. the train/val
    * split's salt, and bit-identical in the oracle (the rate doubles
    * derive from identical integer arithmetic on both engines).
    */
  def mixApply(spark: SparkSession, dir: String): DataFrame =
    mixApplyOf(docs(spark, dir))

  def mixApplyOf(corpus: DataFrame): DataFrame = {
    val rates = mixWeightsOf(corpus).select(col("lang"),
      least(lit(1.0),
        lit(MixTargetFrac) * col("mix_weight") / col("token_share"))
        .as("keep_rate"))
    corpus.select(col("doc_id"), col("lang"))
      .join(broadcast(rates), Seq("lang"))
      .where(graft.functions.Md5Uniform.uniform(
        concat(col("doc_id").cast("string"), lit(":mix"))) < col("keep_rate"))
      .select(col("doc_id"), col("lang"), col("keep_rate"))
  }

  /** Realized-mix audit — the QA view after [[mixApply]]: per language,
    * how many documents and tokens actually survived the computed keep
    * rates (the numbers one compares against the [[mixWeights]] targets
    * to confirm the sampler hit its mixture). One key join + one
    * aggregation with map-side partials.
    */
  def mixCheck(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .join(mixApply(spark, dir).select("doc_id"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))

  // ---- per-column profiling ----

  /** Table profiling — the "what is in this table" dashboard every
    * ingestion run records: per column, row/null/distinct counts plus
    * min/max in BOTH a lexicographic string rendering (defined for every
    * type) and a numeric one (null for non-numeric columns). One pass:
    * each row explodes into #columns (name, sval, dval) tuples and a
    * single map-side-combined aggregation profiles all columns together
    * — never one scan per column.
    */
  /** Declarative data-quality CHECK suite (the Deequ/"unit tests for
    * data" family): cross-table constraint verification in one result
    * table — (check, n_rows, n_bad, metric, passed) per named
    * constraint. [[profile]] DESCRIBES columns; this VERIFIES
    * contracts, the artifact an ingestion gate reads before a corpus
    * refresh may ship: completeness (no null/empty text), key
    * uniqueness (single and composite), domain whitelists, numeric
    * range bounds, referential integrity, non-negativity.
    *
    * Scale shape: one map-side-combined aggregate per TABLE (each
    * multi-check row unpivots from that single pass, the [[profile]]
    * fan-out discipline), plus one distributed equi-join for the FK
    * check — the only constraint that inherently relates two tables.
    * Nothing collects; `metric` is one exactly-rounded integer→double
    * division, so the suite hash-gates like everything else.
    *
    * Note the suite REALLY fires on the fixture: the generator draws
    * l_linenumber uniformly from 1..7 rather than sequencing it, so the
    * textbook lineitem primary key does not hold and that row reports
    * `passed = false` with the exact collision count (spec-pinned) —
    * the suite's value is precisely that such contract drift surfaces
    * as a red row instead of a silent join fan-out downstream.
    */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val d = dqDocChecks(Tables(spark, dir, "documents"))
    val li = dqLineitemChecks(Tables(spark, dir, "lineitem"))
    val fk = dqFkCheck("orders.o_custkey references customer",
      Tables(spark, dir, "orders").select(col("o_custkey").as("k")),
      Tables(spark, dir, "customer").select(col("c_custkey").as("k")))
    val ev = dqEventChecks(Tables(spark, dir, "events"))
    d.unionByName(li).unionByName(fk).unionByName(ev)
      .select(col("check"), col("n_rows"), col("n_bad"),
        ((col("n_rows") - col("n_bad")).cast("double") /
          col("n_rows").cast("double")).as("metric"),
        (col("n_bad") === 0L).as("passed"))
  }

  /** Accepted corpus languages (the ingest contract's domain). */
  val DqLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** documents: completeness, key uniqueness, language whitelist —
    * three checks from ONE scan.
    */
  def dqDocChecks(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n"),
      sum(when(col("text").isNull || col("text") === "", 1L)
        .otherwise(0L)).as("b_complete"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("b_unique"),
      sum(when(col("lang").isNull
        || !col("lang").isin(DqLangs: _*), 1L).otherwise(0L))
        .as("b_lang"))
      .select(explode(array(
        struct(lit("documents.text complete").as("check"),
          col("n").as("n_rows"), col("b_complete").as("n_bad")),
        struct(lit("documents.doc_id unique").as("check"),
          col("n").as("n_rows"), col("b_unique").as("n_bad")),
        struct(lit("documents.lang whitelisted").as("check"),
          col("n").as("n_rows"), col("b_lang").as("n_bad")))).as("c"))
      .select("c.check", "c.n_rows", "c.n_bad")

  /** lineitem: composite-key uniqueness + discount range, one scan. */
  def dqLineitemChecks(li: DataFrame): DataFrame =
    li.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("l_orderkey"),
        col("l_linenumber"))).as("b_unique"),
      sum(when(col("l_discount").isNull || col("l_discount") < 0.0
        || col("l_discount") > 0.1, 1L).otherwise(0L)).as("b_range"))
      .select(explode(array(
        struct(lit("lineitem.(l_orderkey,l_linenumber) unique")
          .as("check"), col("n").as("n_rows"),
          col("b_unique").as("n_bad")),
        struct(lit("lineitem.l_discount in [0,0.1]").as("check"),
          col("n").as("n_rows"), col("b_range").as("n_bad")))).as("c"))
      .select("c.check", "c.n_rows", "c.n_bad")

  /** Referential integrity: every child `k` exists in parent `k`.
    * A left join against the DISTINCT parent keys + null count — the
    * one check that must relate two tables, planned as a plain
    * shuffled (or AQE-broadcast) equi-join.
    */
  def dqFkCheck(name: String, child: DataFrame,
      parent: DataFrame): DataFrame =
    child.join(parent.distinct().withColumn("hit", lit(1)),
        Seq("k"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_bad"))
      .select(lit(name).as("check"), col("n_rows"), col("n_bad"))

  /** events: value non-negativity, one scan. */
  def dqEventChecks(ev: DataFrame): DataFrame =
    ev.agg(count(lit(1)).as("n_rows"),
      sum(when(col("value").isNull || col("value") < 0.0, 1L)
        .otherwise(0L)).as("n_bad"))
      .select(lit("events.value non-negative").as("check"),
        col("n_rows"), col("n_bad"))

  def profile(spark: SparkSession, dir: String): DataFrame =
    profileOf(Tables(spark, dir, "documents"), Seq(
      ("doc_id", col("doc_id").cast("string"), col("doc_id").cast("double")),
      ("lang", col("lang"), lit(null).cast("double")),
      ("source", col("source"), lit(null).cast("double")),
      ("n_chars", col("n_chars").cast("string"),
        col("n_chars").cast("double")),
      ("text", col("text"), lit(null).cast("double"))))

  /** Profile any DataFrame given (column name, string form, numeric
    * form or typed-null) triples.
    */
  def profileOf(df: DataFrame,
                cols: Seq[(String, Column, Column)]): DataFrame =
    df.select(explode(array(cols.map { case (n, s, d) =>
        struct(lit(n).as("col_name"), s.as("sval"), d.as("dval"))
      }: _*)).as("c"))
      .select(col("c.col_name").as("col_name"),
        col("c.sval").as("sval"), col("c.dval").as("dval"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("sval").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("sval")).as("n_distinct"),
        min(col("sval")).as("min_str"),
        max(col("sval")).as("max_str"),
        min(col("dval")).as("min_num"),
        max(col("dval")).as("max_num"))

  // ---- token-budget shard packing ----

  /** Tokens per training shard and the prefix-sum group width. */
  val ShardBudget = 4096L
  val PackGroup = 256L

  /** Recursion depth of [[exclusiveOffsets]]: each level divides the
    * serial stage by [[PackGroup]], so depth 2 bounds it at
    * N/PackGroup³ rows (a handful even at 10¹¹ documents).
    */
  val OffsetsDepth = 2

  /** Exclusive prefix sums of per-group totals: (g, t) → (g, goff) with
    * goff = Σ t over all g' < g. The single-level form is one window
    * over #groups rows in ONE partition — fine while #groups is small,
    * but at 10¹¹ documents #groups = N/[[PackGroup]] ≈ 4·10⁸ rows
    * through one task, a real serial ceiling. So the scheme RECURSES
    * the same two-level trick on itself: group the groups
    * (g2 = g div [[PackGroup]]), run the within-g2 running sums
    * partitioned (parallel), and prefix-sum the g2 totals one level up;
    * only the [[OffsetsDepth]]-times-reduced table — PackGroup^(d+1)
    * rows per final row — ever crosses a single-partition exchange.
    * The join back on g2 is left to the optimizer: broadcast while the
    * offsets level is small, shuffled against the window's existing
    * hash partitioning when it is not.
    */
  private def exclusiveOffsets(totals: DataFrame, depth: Int): DataFrame =
    if (depth <= 0)
      totals.withColumn("goff",
        coalesce(sum(col("t")).over(Window.orderBy("g")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("g", "goff")
    else {
      val b = totals.withColumn("g2", expr(s"g div $PackGroup"))
      val within = b.withColumn("wcum",
        sum(col("t")).over(Window.partitionBy("g2").orderBy("g")))
      val upOff = exclusiveOffsets(
        b.groupBy("g2").agg(sum(col("t")).as("t"))
          .withColumnRenamed("g2", "g"), depth - 1)
        .select(col("g").as("g2"), col("goff").as("g2off"))
      within.join(upOff, "g2")
        .select(col("g"), (col("g2off") + col("wcum") - col("t")).as("goff"))
    }

  /** Assign each document (in doc_id order) to the training shard its
    * cumulative token offset falls into: shard = ⌊(cumsum − n) / budget⌋.
    *
    * Scale shape: a single `Window.orderBy(doc_id)` would serialize the
    * corpus through ONE partition — the classic global-window trap — so
    * the prefix sum is hierarchical: a per-group running sum (window
    * PARTITIONED by g = doc_id div [[PackGroup]], fully parallel) plus
    * per-group base offsets from [[exclusiveOffsets]], which recurses
    * the same scheme so the only single-partition window sees the
    * [[OffsetsDepth]]-times-reduced totals, never N/[[PackGroup]] rows.
    * Identical result to the global window, no unbounded serial stage.
    */
  def packShards(spark: SparkSession, dir: String): DataFrame =
    packShardsOf(docs(spark, dir))

  def packShardsOf(corpus: DataFrame, budget: Long = ShardBudget): DataFrame = {
    val base = corpus.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      expr(s"doc_id div $PackGroup").as("g"))
    val within = base.withColumn("wcum",
      sum(col("n_tokens")).over(Window.partitionBy("g").orderBy("doc_id")))
    val offsets = exclusiveOffsets(
      base.groupBy("g").agg(sum(col("n_tokens")).as("t")), OffsetsDepth)
    // no broadcast hint: `within` already hashes on g (its window), so
    // the optimizer can broadcast the offsets while small or shuffle
    // only the offsets side at scale
    within.join(offsets, "g")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(goff + wcum - n_tokens) div $budget").as("shard"))
  }

  // ---- token-weighted systematic (PPS) sampling ----

  /** Target sample size for [[samplePps]]. */
  val PpsTarget = 100L

  /** Probability-proportional-to-size document sampling, exact-integer
    * systematic form: lay every document's tokens on one line (the
    * [[packShardsOf]] cumulative sum, same recursed-offsets machinery —
    * no raw-corpus single-partition window), divide the line into
    * strides of `T DIV k` tokens, and select the document under each
    * stride boundary. Inclusion probability is proportional to token
    * count — the Horvitz-Thompson workhorse for estimating corpus
    * statistics from a document sample — with none of the float `pow`
    * an Efraimidis-Spirakis weighted reservoir needs (whose last-ulp
    * behavior is not pinned across engines). Documents longer than a
    * stride carry their multiplicity in `n_picks`; total picks are
    * exactly `T DIV stride` by construction.
    */
  def samplePps(spark: SparkSession, dir: String): DataFrame =
    samplePpsOf(docs(spark, dir), PpsTarget)

  def samplePpsOf(corpus: DataFrame, k: Long): DataFrame = {
    val base = corpus.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      expr(s"doc_id div $PackGroup").as("g"))
    val within = base.withColumn("wcum",
      sum(col("n_tokens")).over(Window.partitionBy("g").orderBy("doc_id")))
    val offsets = exclusiveOffsets(
      base.groupBy("g").agg(sum(col("n_tokens")).as("t")), OffsetsDepth)
    val stride = base.agg(
      greatest(lit(1L), expr(s"sum(n_tokens) DIV $k")).as("stride"))
    within.join(offsets, "g").crossJoin(broadcast(stride))
      .select(col("doc_id"), col("n_tokens"),
        (col("goff") + col("wcum")).as("cum"), col("stride"))
      .where(expr("cum DIV stride") >
        expr("(cum - n_tokens) DIV stride"))
      .select(col("doc_id"), col("n_tokens"),
        (expr("cum DIV stride") - expr("(cum - n_tokens) DIV stride"))
          .as("n_picks"))
  }

  // ---- fixed-stride context chunking ----

  /** Tokens per training chunk and the overlap stride. */
  val ChunkSize = 64
  val ChunkStride = 48

  /** Split each document into fixed-size token windows with overlap
    * (stride < size): the context-length chunking step that turns
    * curated documents into training sequences. Chunk starts are
    * 0, stride, 2·stride … < n_tokens, so every token is covered and
    * consecutive chunks share (size − stride) tokens of context; the
    * final chunk may be short (no padding here — [[packShards]] is the
    * budget step).
    *
    * Scale shape: chunk boundaries are row-local arithmetic — the whole
    * operator is one generator expression per row, zero shuffles, and
    * the ~size/stride row-count amplification happens AFTER the scan.
    */
  def chunk(spark: SparkSession, dir: String): DataFrame =
    chunkOf(docs(spark, dir))

  def chunkOf(corpus: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    corpus
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 1, lit(ChunkStride)))
          .as("start"))
      .select(
        col("doc_id"),
        expr(s"start div $ChunkStride").cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        size(slice(col("t"), col("start") + 1, lit(ChunkSize)))
          .as("n_tokens"),
        concat_ws(" ", slice(col("t"), col("start") + 1, lit(ChunkSize)))
          .as("chunk_text"))
  }

  /** [[chunkOf]] composed with [[packShardsOf]]'s two-level prefix sum:
    * every training chunk assigned, in (doc_id, chunk_id) order, to the
    * shard its cumulative token offset falls into — the step that turns
    * chunked documents into fixed-budget training shards. Same
    * scale shape as [[packShards]]: the per-group running sum is
    * partitioned (g = doc_id div [[PackGroup]], chunks follow their
    * document), base offsets recurse through [[exclusiveOffsets]], and
    * the result equals a global ORDER BY (doc_id, chunk_id) window
    * without an unbounded serial stage.
    */
  def packChunks(spark: SparkSession, dir: String): DataFrame =
    packChunksOf(chunkOf(docs(spark, dir)))

  def packChunksOf(chunks: DataFrame,
      budget: Long = ShardBudget): DataFrame = {
    val base = chunks.select(col("doc_id"), col("chunk_id"),
      col("n_tokens").cast("long").as("n_tokens"),
      expr(s"doc_id div $PackGroup").as("g"))
    val within = base.withColumn("wcum",
      sum(col("n_tokens")).over(
        Window.partitionBy("g").orderBy("doc_id", "chunk_id")))
    val offsets = exclusiveOffsets(
      base.groupBy("g").agg(sum(col("n_tokens")).as("t")), OffsetsDepth)
    within.join(offsets, "g")
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        expr(s"(goff + wcum - n_tokens) div $budget").as("shard"))
  }

  /** [[packChunksOf]] with the WITHIN-SHARD token offset carried — the
    * column the data loader needs beyond the shard id: with
    * (shard, offset, n_tokens) per chunk, sequences concatenate at
    * `offset` and the block-diagonal attention mask (tokens attend only
    * within their own chunk) falls out without re-deriving any prefix
    * sum at load time. offset = global_start mod budget, same recursed
    * machinery, zero extra shuffles.
    */
  def packOffsets(spark: SparkSession, dir: String): DataFrame =
    packOffsetsOf(chunkOf(docs(spark, dir)))

  def packOffsetsOf(chunks: DataFrame,
      budget: Long = ShardBudget): DataFrame = {
    val base = chunks.select(col("doc_id"), col("chunk_id"),
      col("n_tokens").cast("long").as("n_tokens"),
      expr(s"doc_id div $PackGroup").as("g"))
    val within = base.withColumn("wcum",
      sum(col("n_tokens")).over(
        Window.partitionBy("g").orderBy("doc_id", "chunk_id")))
    val offsets = exclusiveOffsets(
      base.groupBy("g").agg(sum(col("n_tokens")).as("t")), OffsetsDepth)
    within.join(offsets, "g")
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        expr(s"(goff + wcum - n_tokens) div $budget").as("shard"),
        expr(s"(goff + wcum - n_tokens) % $budget").as("offset"))
  }

  /** Per-shard QA over [[packChunks]] — the validation a packing run
    * records: chunks and tokens per shard. Every shard but the last
    * lands within one chunk of [[ShardBudget]] by construction; the
    * aggregate (one map-side-combined pass over the packing output)
    * makes that checkable downstream without re-deriving the prefix
    * sums.
    */
  def shardStats(spark: SparkSession, dir: String): DataFrame =
    packChunks(spark, dir)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))

  // ---- corpus refresh (latest-wins upsert) ----

  /** Which doc_ids the fixture "re-crawl" batch touches (mod key). */
  val UpsertMod = 7L

  /** Latest-wins key merge — the corpus-refresh / CDC-upsert step: a
    * re-crawled batch replaces the snapshot row with the same key,
    * batch-only keys insert, untouched snapshot rows carry through.
    * Implemented as union + one max-struct aggregate (version, then
    * payload), NOT a join: one shuffle with map-side partials, no
    * build side to size, and n-way batches compose by unioning more
    * inputs. At 100 TB this is the merge-on-read compaction kernel;
    * pairing it with [[graft.sources.TextSources.writeRangeSorted]]
    * keeps the merged layout scan-skippable.
    */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val snap = docs(spark, dir)
      .select(col("doc_id"), lit(0L).as("version"), col("text"))
    // deterministic fixture "re-crawl": every UpsertMod-th document
    // arrives again at version 1 with its tokens reversed
    val batch = docs(spark, dir)
      .where(col("doc_id") % UpsertMod === 0)
      .select(col("doc_id"), lit(1L).as("version"),
        concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
    upsertOf(snap, batch)
  }

  /** Merge `batch` into `snapshot` keeping the highest (version, text)
    * per doc_id. Both inputs need (doc_id, version, text).
    */
  def upsertOf(snapshot: DataFrame, batch: DataFrame): DataFrame =
    snapshot.unionByName(batch)
      .groupBy("doc_id")
      // struct ordering: version first — ties cannot occur across a
      // snapshot/batch pair (distinct versions), and equal-version
      // duplicates resolve deterministically by payload
      .agg(max(struct(col("version"), col("text"))).as("m"))
      .select(col("doc_id"), col("m.version").as("version"),
        col("m.text").as("text"))

  // ---- corpus snapshot diff ----

  /** Deterministic fixture "next snapshot" mod keys: every [[UpsertMod]]-th
    * doc re-crawled (changed), every [[DiffDropMod]]-th dropped, every
    * [[DiffAddMod]]-th also present under a new id (added).
    */
  val DiffDropMod = 11L
  val DiffAddMod = 17L
  val DiffAddOffset = 100000L

  /** Snapshot diff — the crawl-over-crawl audit: FULL OUTER join of two
    * corpus snapshots on the key, each doc classified added / removed /
    * changed / unchanged by null pattern and content hash. The one join
    * type the rest of the library never needs appears here because diff
    * semantics REQUIRE both dangling sides in one pass; comparing
    * md5(text) instead of text keeps the shuffled payload fixed-width.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame =
    snapshotDiffOf(docs(spark, dir).select(col("doc_id"), col("text")),
      nextSnapshot(spark, dir))

  /** The deterministic fabricated "next crawl" (see the mod keys above)
    * — shared by the diff entry and the BPE vocabulary-drift report.
    */
  private[graft] def nextSnapshot(spark: SparkSession, dir: String)
      : DataFrame = {
    val old = docs(spark, dir).select(col("doc_id"), col("text"))
    val changed = old.where(col("doc_id") % UpsertMod === 0)
      .select(col("doc_id"),
        concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
    val kept = old.where(col("doc_id") % UpsertMod =!= 0)
    val added = old.where(col("doc_id") % DiffAddMod === 0)
      .select((col("doc_id") + DiffAddOffset).as("doc_id"), col("text"))
    kept.unionByName(changed).unionByName(added)
      .where(col("doc_id") % DiffDropMod =!= 0)
  }

  // ---- BPE vocabulary drift ----

  /** Cross-snapshot tokenizer drift — the [[snapshotDiff]] ×
    * [[TextOps.bpeMergesOf]] composition: train the SAME n-step BPE
    * tokenizer on the current corpus and on the next crawl, then line
    * the merge tables up step by step. A `same = false` row is a merge
    * the re-crawl re-ordered or replaced — the signal that a deployed
    * tokenizer no longer matches the corpus it will encode (the check a
    * pipeline runs before deciding whether a vocabulary refresh forces
    * re-encoding). FULL OUTER on step so an early-exhausted side still
    * reports its dangling steps.
    *
    * Scale shape: both trainings run on aggregated word-frequency
    * tables (≪ corpus); the report itself is n rows. The fixture drifts
    * for real: the add/drop resampling shifts pair counts enough to
    * flip the argmax at 2-3 of the 12 steps.
    */
  def bpeDriftOf(oldCorpus: DataFrame, nextCorpus: DataFrame)
      : DataFrame = {
    val n = TextOps.BpeMerges
    val a = TextOps.bpeMergesOf(TextOps.wordFreqOf(oldCorpus), n)
      .select(col("step"), col("merged").as("merged_old"),
        col("cnt").as("cnt_old"))
    val b = TextOps.bpeMergesOf(TextOps.wordFreqOf(nextCorpus), n)
      .select(col("step"), col("merged").as("merged_new"),
        col("cnt").as("cnt_new"))
    a.join(b, Seq("step"), "full_outer")
      .select(col("step"), col("merged_old"), col("merged_new"),
        (col("merged_old") <=> col("merged_new")).as("same"),
        col("cnt_old"), col("cnt_new"))
  }

  /** Session cache of trained REPORTS per (session, dir, kind) — the
    * training runs at plan-build time, so caching the returned
    * DataFrame caches the training:
    *  - `drift`: [[TextOps.bpeMergesOf]] trains eagerly and returns a
    *    LOCAL n-row table, so the entry holds both trainings — without
    *    it every bench rep re-runs 2n driver-loop steps;
    *  - `eval`: the learned θ bakes into the returned plan as literals,
    *    so each collect re-runs only the final 3-row aggregation. The
    *    plan reads [[Quality.probeFeatures]]' checkpoint with NO
    *    lineage fallback; the one dir-scoped
    *    [[graft.SessionCache.invalidate]] drops this entry together
    *    with that checkpoint (a retained entry would fail its next
    *    collect with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    * Release is a no-op: the entries own no executor state.
    */
  private val reportCache = new graft.SessionCache[DataFrame](_ => ())

  def bpeDrift(spark: SparkSession, dir: String): DataFrame =
    reportCache.getOrBuild(spark, dir, "drift")(bpeDriftOf(
      docs(spark, dir).select(col("doc_id"), col("text")),
      nextSnapshot(spark, dir)))

  /** Cross-snapshot QUALITY drift — the monitoring row a pipeline
    * checks before ingesting a re-crawl, next to [[bpeDriftOf]]'s
    * tokenizer check: the corpus-level quality profile (doc count,
    * gate pass count and rate, mean token length, mean distinct-token
    * and stopword ratios) for the current corpus and the next snapshot,
    * one row each. A pass-rate or length-mean shift between the rows is
    * the "this crawl is different" alarm that gates a refresh before
    * any per-doc processing spends money on it.
    *
    * Determinism: counts are exact integers; the token mean is an exact
    * BIGINT sum over one IEEE division; the two ratio means sum
    * per-doc exact-division doubles through [[graft.functions.StableSum]]
    * (order-independent DECIMAL quantization, ratios are unit-scale) —
    * every cell bit-stable across partitionings and engines.
    *
    * Scale shape: two corpus scans (current + fabricated next), each
    * reduced by ONE map-side-combined aggregation to a single row;
    * quality signals are row-local projections in the scan. Nothing
    * else moves.
    */
  def qualityDrift(spark: SparkSession, dir: String): DataFrame =
    qualityDriftOf(docs(spark, dir).select(col("doc_id"), col("text")),
      nextSnapshot(spark, dir))

  def qualityDriftOf(oldCorpus: DataFrame, nextCorpus: DataFrame)
      : DataFrame = {
    def side(tag: String, c: DataFrame): DataFrame =
      TextOps.qualityScoreOf(c)
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("quality_pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(col("n_tokens").cast("long")).as("tok_sum"),
          graft.functions.StableSum.dsum(col("distinct_ratio"))
            .as("dr_sum"),
          graft.functions.StableSum.dsum(col("stopword_ratio"))
            .as("sw_sum"))
        .select(lit(tag).as("snapshot"), col("n_docs"), col("n_pass"),
          (col("n_pass").cast("double") / col("n_docs").cast("double"))
            .as("pass_rate"),
          (col("tok_sum").cast("double") / col("n_docs").cast("double"))
            .as("mean_tokens"),
          (col("dr_sum") / col("n_docs").cast("double"))
            .as("mean_distinct_ratio"),
          (col("sw_sum") / col("n_docs").cast("double"))
            .as("mean_stopword_ratio"))
    side("current", oldCorpus).unionByName(side("next", nextCorpus))
  }

  /** Classify every key of either snapshot. Both sides reduce to
    * (doc_id, md5) BEFORE the join — fixed-width shuffle rows.
    */
  def snapshotDiffOf(old: DataFrame, next: DataFrame): DataFrame = {
    val a = old.select(col("doc_id"), md5(col("text")).as("h_old"))
    val b = next.select(col("doc_id"), md5(col("text")).as("h_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  // ---- end-to-end curation gate ----

  /** The corpus a pipeline actually trains on: documents that pass the
    * quality gate, classify as English, and are not the dropped side of
    * a verified minhash near-dup pair. Pure composition of the library's
    * own operators — two key-unique inner joins (semantically semi-joins)
    * and one anti-join; the dedup side rides the session-cached band
    * index.
    */
  def curate(spark: SparkSession, dir: String): DataFrame =
    keptCache.getOrBuild(spark, dir, "curate") {
      val q = TextOps.qualityScore(spark, dir)
        .where(col("quality_pass")).select("doc_id")
      val l = TextOps.langId(spark, dir)
        .where(col("lang_pred") === "en").select("doc_id")
      val dup = Dedup.minhashLsh(spark, dir)
        .select(col("doc_b").as("doc_id")).distinct()
      graft.Materialize.session(spark)(docs(spark, dir).select("doc_id")
        .join(q, "doc_id")
        .join(l, "doc_id")
        .join(dup, Seq("doc_id"), "left_anti"))
    }

  /** Session-lifetime kept-set checkpoints per (session, dir) — the
    * serving-index discipline applied to the gate compositions
    * themselves: SIX fixture entries re-derived the [[curate]] /
    * [[curateStrict]] membership per invocation (the strict gate runs
    * several corpus scans), while a real pipeline computes its kept
    * set once per snapshot and every downstream stage reads it. The
    * kept sets are doc_id-only tables, so the checkpoints are tiny;
    * lineage is truncated, so releasing an upstream index cannot
    * strand them, and [[graft.SessionCache.invalidate]] drops them with
    * every other artifact of their dir (including [[Dsir]]'s survivor
    * tables derived from them). The same cache holds the
    * [[coverageSelect]] incidence and the gate/card reports.
    */
  private val keptCache =
    new graft.SessionCache[DataFrame](graft.Materialize.release)

  /** The strict corpus gate: [[curate]]'s quality ∩ English ∩ not-near-
    * dup, additionally requiring the repetition gate
    * ([[TextOps.repNgrams]]) and benchmark cleanliness
    * ([[Contamination.decontaminate]]). Joining on the decontamination
    * AUDIT (which only covers train-side docs) also drops the eval split
    * itself from the corpus — benchmark documents are never trained on.
    * Same composition shape as [[curate]]: key-unique inner joins
    * (semantically semi-joins) + one anti-join, riding the session dedup
    * index.
    */
  def curateStrict(spark: SparkSession, dir: String): DataFrame =
    keptCache.getOrBuild(spark, dir, "strict") {
      val base = curate(spark, dir)
      val rep = TextOps.repNgrams(spark, dir)
        .where(col("rep_pass")).select("doc_id")
      val clean = Contamination.decontaminate(spark, dir)
        .where(!col("contaminated")).select("doc_id")
      graft.Materialize.session(spark)(
        base.join(rep, "doc_id").join(clean, "doc_id"))
    }

  /** The LEARNED corpus gate — the production learn-then-gate loop
    * closed: [[curate]]'s composition with the hand-set quality and
    * repetition rules REPLACED by the trained probe's prediction
    * ([[Quality.qualityGate]], which the probe learned by imitating
    * exactly those rules). This is the fastText-classifier role a real
    * pipeline runs: bootstrap a classifier from heuristics, then the
    * CLASSIFIER becomes the gate — so the kept set is probe-kept ∩
    * English ∩ not-near-dup, and each doc carries its learned score.
    *
    * Scale shape: identical to [[curate]] — the probe side rides the
    * session (feature table, θ) cache and scores with plan-literal
    * weights (the corpus never shuffles to be scored); lang is a
    * row-local projection; the dedup side rides the session band index.
    * Two key-unique inner joins + one anti-join.
    */
  def curateLearned(spark: SparkSession, dir: String): DataFrame = {
    val pk = Quality.qualityGate(spark, dir) // (doc_id, score), pred-kept
    val l = TextOps.langId(spark, dir)
      .where(col("lang_pred") === "en").select("doc_id")
    val dup = Dedup.minhashLsh(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    pk.join(l, "doc_id")
      .join(dup, Seq("doc_id"), "left_anti")
  }

  /** Gates THEN diversity — the DataComp-style curation tail: apply the
    * [[curate]] composition (quality ∩ English ∩ non-dup), then cap
    * each embedding-space cluster of the SURVIVORS at
    * [[Similarity.ClusterSampleCap]] ([[Similarity.sampleClusterFor]]).
    * Doc-level dedup removes copies; the cluster cap removes
    * redundancy dedup can't see — a thousand distinct-but-templated
    * pages that all pass the gates still land in one dense cluster and
    * get capped. Order matters and is pinned: the cap ranks within the
    * gated survivors (a gate-dropped doc never occupies a cluster
    * slot), while the quantizer stays the corpus-level session-cached
    * one.
    *
    * Scale shape: [[curate]]'s join tree, one key semi-join into the
    * embedding table, the zero-shuffle assignment kernel, and the
    * WindowGroupLimit-pruned per-cluster rank.
    */
  def curateDiverse(spark: SparkSession, dir: String): DataFrame =
    Similarity.sampleClusterFor(spark, dir, curate(spark, dir))
      .select(col("vec_id").as("doc_id"), col("cid"), col("cluster_n"),
        col("rk"))

  /** Greedy selection size and term-universe size for
    * [[coverageSelect]] (conf-tunable; oracle built at the defaults).
    */
  val CovSelectK = 10
  val CovUniverse = 512
  val CovSelectKConf = "graft.coverage.selectK"
  val CovUniverseConf = "graft.coverage.universe"

  /** Greedy maximum-coverage document selection — the SUBMODULAR
    * curation primitive (facility location / max-coverage with the
    * Nemhauser-Wolsey-Fisher 1−1/e guarantee): pick [[CovSelectK]]
    * documents one at a time, each maximizing the count of
    * still-uncovered terms from the [[CovUniverse]]-term universe
    * (top document-frequency terms; ties by gain desc, doc_id asc).
    * This is the "smallest set that still spans the distribution"
    * selector real data-selection pipelines run where
    * [[curateDiverse]]'s cluster sampling is quota-shaped.
    * (step, doc_id, gain, covered).
    *
    * Scale shape: the (doc, universe-term) incidence is checkpointed
    * ONCE (corpus × ≤ universe rows); each greedy step is one
    * broadcast anti-join against the ≤ universe-sized covered set, one
    * map-side-combined gain aggregate, and a 1-ROW driver pull (the
    * distributed argmax) plus a ≤ universe-row term pull — the
    * [[graft.operators.Sgd]] bounded-driver-state class, K steps
    * total. The oracle unrolls all K argmax/cover rounds as
    * MATERIALIZED CTEs, so the greedy trajectory itself is
    * hash-verified. A step with no remaining coverable term emits
    * nothing (both sides), ending the trajectory early.
    */
  def coverageSelect(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.Conf.int(spark, CovSelectKConf, CovSelectK)
    val u = graft.Conf.int(spark, CovUniverseConf, CovUniverse)
    coverageGreedy(spark, cachedCovIncidence(spark, dir, u), k)
  }

  def coverageSelectOf(spark: SparkSession, corpus: DataFrame,
      k: Int, uSize: Int): DataFrame = {
    val incU = graft.Materialize.Local(covIncidenceOf(corpus, uSize))
    try coverageGreedy(spark, incU, k)
    finally graft.Materialize.release(incU)
  }

  /** The (doc, universe-term) incidence: distinct bigrams joined to the
    * [[CovUniverse]] lowest-df terms.
    */
  private def covIncidenceOf(corpus: DataFrame, uSize: Int): DataFrame = {
    val t = split(col("text"), " ")
    val inc = corpus.select(col("doc_id"),
      explode(array_distinct(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b)))).as("term"))
    val universe = inc.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").asc, col("term")).limit(uSize)
      .select("term")
    inc.join(broadcast(universe), "term").select("doc_id", "term")
  }

  /** Session-lifetime checkpoint of the incidence per (session, dir,
    * universe) — the serving-index discipline: the two corpus scans +
    * checkpoint are paid once, each coverageSelect call costs only its
    * K greedy jobs. Rides [[keptCache]].
    */
  private def cachedCovIncidence(spark: SparkSession, dir: String,
      uSize: Int): DataFrame =
    keptCache.getOrBuild(spark, dir, ("coverage", uSize))(
      graft.Materialize.session(spark)(
        covIncidenceOf(docs(spark, dir), uSize)))

  private def coverageGreedy(spark: SparkSession, incU: DataFrame,
      k: Int): DataFrame = {
    import spark.implicits._
    val picks = scala.collection.mutable.ListBuffer
      .empty[(Long, Long, Long, Long)]
    var covered = Set.empty[String]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val rest =
        if (covered.isEmpty) incU
        else incU.join(broadcast(covered.toSeq.toDF("term")),
          Seq("term"), "left_anti")
      val top = rest.groupBy("doc_id")
        .agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val doc = top.head.getLong(0)
        val gain = top.head.getLong(1)
        covered = covered ++ incU.where(col("doc_id") === doc)
          .select("term").collect().map(_.getString(0))
        picks += ((step.toLong, doc, gain, covered.size.toLong))
        step += 1
      }
    }
    picks.toSeq.toDF("step", "doc_id", "gain", "covered")
  }

  /** Quality-diversity Pareto frontier of the corpus — the
    * [[graft.operators.Warehouse.skylineOf]] SKYLINE operator reused
    * verbatim on document metrics (the operator is schema-generic;
    * this entry is the proof): every document no other document beats
    * on BOTH axes at once — fewer repeated tokens (redundancy =
    * n_tokens − n_distinct, minimize) AND a larger distinct
    * vocabulary (maximize). The frontier is the "best examples at
    * every redundancy budget" view a curation owner eyeballs before
    * setting gate thresholds; both metrics are exact integers, so the
    * dominance test is exact and the bucket prefix-max scheme (and
    * its WindowBoundSpec story) carries over unchanged.
    * (doc_id, redundancy, n_distinct).
    */
  def docPareto(spark: SparkSession, dir: String): DataFrame =
    docParetoOf(docs(spark, dir))

  def docParetoOf(corpus: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    graft.operators.Warehouse.skylineOf(
      corpus.select(col("doc_id").as("p_partkey"),
        (size(t) - size(array_distinct(t))).cast("double").as("price"),
        size(array_distinct(t)).cast("long").as("size")))
      .select(col("p_partkey").as("doc_id"),
        col("price").cast("long").as("redundancy"),
        col("size").as("n_distinct"))
  }

  // ---- leakage-safe probe evaluation ----

  /** Held-out evaluation of the trained quality probe — [[Quality]] ×
    * [[splitAssignOf]] composed: the probe is fit ONLY on documents the
    * deterministic split assigns to `train`, then every document (train,
    * val, AND test) is scored with that θ and the report gives per-split
    * n / accuracy / pos_rate / tpr / tnr. The val and test rows are the
    * honest generalization numbers the train-and-score-on-the-same-rows
    * probe entry (`llm_quality_probe`, legitimate for gate imitation)
    * cannot provide — and the standard check before a learned gate
    * ships. Docs with < 2 tokens have no feature row (the probe's
    * documented inner-join contract) and so don't participate.
    *
    * Determinism: the split is a row-local salted-md5 threshold, the
    * train-split fit reuses the probe's DECIMAL-exact order-independent
    * gradient sums, and every reported metric is a ratio of integer
    * counts (exact casts + one IEEE division) — so the whole report is
    * bit-identical across partitionings and engines, and the oracle
    * replays fit-on-train → score-all end-to-end (same unrolled
    * MATERIALIZED CTEs, with one `WHERE split = 'train'`). A split with
    * no negatives (possible on tiny corpora) reports NaN recall rather
    * than null, mirrored by the oracle's CASE.
    *
    * Scale shape: identical to the probe — the feature table is the
    * session-cached checkpoint, the split column is computed in the
    * scan (no join), each epoch is one filtered scan + 6-decimal-sum
    * aggregate, and the report is one map-side-combined aggregation to
    * 3 rows.
    */
  def qualityEval(spark: SparkSession, dir: String): DataFrame =
    reportCache.getOrBuild(spark, dir, "eval")(
      evalReport(Quality.probeFeatures(spark, dir)))

  def qualityEvalOf(corpus: DataFrame): DataFrame =
    evalReport(graft.Materialize.Local(Quality.probeFeaturesOf(corpus)))

  private def evalReport(feat: DataFrame): DataFrame = {
    val fs = feat.withColumn("split", splitFromU(splitU(col("doc_id"))))
    val theta = Quality.fitProbe(fs.where(col("split") === "train"))
    val s = Quality.scoreCol(theta)
    val hit = (s > 0.5) === (col("y") > 0.5)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    // try_divide, not `/`: ANSI mode (Spark 4 default) turns the
    // zero-negative-split division into a runtime error; NULL → NaN
    // mirrors the oracle's CASE
    fs.groupBy("split").agg(
      count(lit(1)).as("n"),
      (cnt(hit).cast("double") / count(lit(1)).cast("double")).as("acc"),
      (cnt(col("y") > 0.5).cast("double") / count(lit(1)).cast("double"))
        .as("pos_rate"),
      coalesce(try_divide(cnt(hit && col("y") > 0.5).cast("double"),
        cnt(col("y") > 0.5).cast("double")), lit(Double.NaN)).as("tpr"),
      coalesce(try_divide(cnt(hit && col("y") < 0.5).cast("double"),
        cnt(col("y") < 0.5).cast("double")), lit(Double.NaN)).as("tnr"))
  }

  // ---- per-source gate report ----

  /** The pipeline owner's dashboard: for every source, how many
    * documents clear EACH gate (quality, repetition, blocklist,
    * language, decontamination, near-dup uniqueness) and how many clear
    * them all — the table that decides which sources to keep, scrub, or
    * drop, and the one aggregate view over the whole gate family.
    * Eval-split documents (no decontamination audit row) count as not
    * clean, matching [[curateStrict]]'s exclusion.
    *
    * Shape: every gate is a doc-keyed column join (the dedup side is a
    * distinct key list riding the session band index), then ONE
    * map-side-combined aggregation down to #sources rows.
    */
  def gateReport(spark: SparkSession, dir: String): DataFrame =
    // the #sources-row dashboard is nested by [[corpusCard]], so it
    // rides the same session cache as the kept sets (the report is
    // the other artifact a pipeline derives once per snapshot)
    keptCache.getOrBuild(spark, dir, "gate_report")(
      graft.Materialize.session(spark)(gateReportUncached(spark, dir)))

  private[graft] def gateReportUncached(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = Tables(spark, dir, "documents").select("doc_id", "source")
    val q = TextOps.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_pass"))
    val rep = TextOps.repNgrams(spark, dir)
      .select(col("doc_id"), col("rep_pass"))
    val bad = TextOps.badwords(spark, dir)
      .select(col("doc_id"), col("badwords_pass"))
    val en = TextOps.langId(spark, dir)
      .select(col("doc_id"), (col("lang_pred") === "en").as("is_en"))
    val cl = Contamination.decontaminate(spark, dir)
      .select(col("doc_id"), (!col("contaminated")).as("clean"))
    val dup = Dedup.minhashLsh(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    def n(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    d.join(q, Seq("doc_id")).join(rep, Seq("doc_id"))
      .join(bad, Seq("doc_id")).join(en, Seq("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        n(col("quality_pass")).as("n_quality"),
        n(col("rep_pass")).as("n_rep"),
        n(col("badwords_pass")).as("n_badwords"),
        n(col("is_en")).as("n_en"),
        n(coalesce(col("clean"), lit(false))).as("n_clean"),
        n(col("is_dup").isNull).as("n_unique"),
        n(col("quality_pass") && col("rep_pass") && col("badwords_pass")
          && col("is_en") && coalesce(col("clean"), lit(false))
          && col("is_dup").isNull).as("n_corpus"))
  }

  /** Token-length quantiles the corpus card probes. */
  val CardQs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)

  /** The corpus card — the "datasheet for datasets" summary a training
    * run ships next to its corpus, as ONE long-format (section, metric,
    * value) table: volume (docs / tokens / sources / languages),
    * per-language token share, every [[gateReport]] gate's corpus-level
    * pass rate (the full composition: quality, repetition, badwords,
    * language, decontamination, dedup — the dedup side riding the
    * session band index), and exact token-length quantiles via the
    * distributed bucket-histogram selection
    * ([[Sketch.exactQuantilesOf]] — no global sort, no buffered
    * percentile).
    *
    * Scale shape: three corpus-scan families (the stats scan, the gate
    * columns, the quantile selection's bucket pass), each reduced
    * map-side to constant-size section tables before the tiny unions —
    * nothing post-aggregation exceeds |sources| + |langs| + 11 rows.
    * All values are exact integer aggregates carried to DOUBLE with at
    * most one division, so every cell sits behind the hash gate.
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    // the narrow (lang, source, n_tok) projection is cut ONCE: four
    // downstream passes read it (volume, language shares, the total,
    // and the quantile selection's bucket+probe passes) — lazily each
    // re-scanned and re-tokenized the documents table (r16 plan audit:
    // 21 Exchanges, 4 text scans per invocation). ~tens of bytes per
    // doc vs KBs of text per scan, a win at any scale for this
    // reporting shape. A SESSION artifact (r17, the gate_cols
    // discipline), not a per-call localCheckpoint: the r16 form
    // checkpointed per invocation with no release, accumulating pinned
    // blocks across a long session (r16 ADVICE item 3) — the cache
    // releases it on invalidation like every other kept artifact.
    val base = keptCache.getOrBuild(spark, dir, "card_base")(
      graft.Materialize.session(spark)(
        Tables(spark, dir, "documents")
          .select(col("lang"), col("source"),
            expr("cast(size(split(text, ' ')) as bigint)").as("n_tok"))))
    val vol = base
      .agg(count(lit(1)).cast("double").as("nd"),
        sum(col("n_tok")).cast("double").as("nt"),
        countDistinct(col("source")).cast("double").as("ns"),
        countDistinct(col("lang")).cast("double").as("nl"))
      .select(explode(map(
        lit("n_docs"), col("nd"), lit("n_tokens"), col("nt"),
        lit("n_sources"), col("ns"), lit("n_langs"), col("nl")))
        .as(Seq("metric", "value")))
      .select(lit("volume").as("section"), col("metric"), col("value"))
    val tot = base.agg(sum(col("n_tok")).cast("double").as("nt_all"))
    val langs = base.groupBy("lang")
      .agg(sum(col("n_tok")).cast("double").as("lt"))
      .crossJoin(broadcast(tot))
      .select(lit("lang_share").as("section"), col("lang").as("metric"),
        (col("lt") / col("nt_all")).as("value"))
    val grates = gateReport(spark, dir)
      .agg(sum(col("n_docs")).cast("double").as("nd"),
        sum(col("n_quality")).cast("double").as("nq"),
        sum(col("n_rep")).cast("double").as("nr"),
        sum(col("n_badwords")).cast("double").as("nb"),
        sum(col("n_en")).cast("double").as("ne"),
        sum(col("n_clean")).cast("double").as("nc"),
        sum(col("n_unique")).cast("double").as("nu"),
        sum(col("n_corpus")).cast("double").as("nk"))
      .select(explode(map(
        lit("quality"), col("nq") / col("nd"),
        lit("repetition"), col("nr") / col("nd"),
        lit("badwords"), col("nb") / col("nd"),
        lit("english"), col("ne") / col("nd"),
        lit("decontaminated"), col("nc") / col("nd"),
        lit("unique"), col("nu") / col("nd"),
        lit("corpus"), col("nk") / col("nd")))
        .as(Seq("metric", "value")))
      .select(lit("gate_rate").as("section"), col("metric"), col("value"))
    val quant = Sketch
      .exactQuantilesOf(base.select(col("n_tok").cast("double").as("v")),
        CardQs)
      .select(lit("len_quantile").as("section"), col("q").as("metric"),
        col("exact_v").as("value"))
    vol.unionByName(langs).unionByName(grates).unionByName(quant)
  }

  /** Per-document gate attribution — the drill-down behind
    * [[gateReport]]: every document with EVERY gate's verdict, the
    * final keep decision, and the first failing gate in the pipeline's
    * canonical order (quality → repetition → badwords → language →
    * contamination → duplicate). This is the table a pipeline owner
    * actually opens when a source's numbers look wrong in the report —
    * "why did THIS doc drop" — and the audit trail a data-governance
    * review asks for. `kept` reproduces [[curateStrict]]'s membership
    * (plus the badwords gate, as in the report's n_corpus).
    *
    * Determinism: every column is a boolean of exact joins or a CASE
    * over them — no floats anywhere.
    *
    * Scale shape: identical to [[gateReport]] minus the final
    * aggregation — doc-keyed column joins (the contamination and dedup
    * sides broadcast; the corpus-sized gate columns co-partition on the
    * key), output one row per doc.
    */
  /** The four text-gate verdict columns joined onto the doc key, as a
    * session artifact: each gate is a full tokenize pass over the
    * corpus, and a pipeline materializes the verdicts once per
    * snapshot rather than re-running four text scans per downstream
    * read (the gate_report discipline, one level lower).
    */
  private def gateCols(spark: SparkSession, dir: String): DataFrame =
    keptCache.getOrBuild(spark, dir, "gate_cols")(
      graft.Materialize.session(spark) {
        val d = Tables(spark, dir, "documents").select("doc_id", "source")
        val q = TextOps.qualityScore(spark, dir)
          .select(col("doc_id"), col("quality_pass"))
        val rep = TextOps.repNgrams(spark, dir)
          .select(col("doc_id"), col("rep_pass"))
        val bad = TextOps.badwords(spark, dir)
          .select(col("doc_id"), col("badwords_pass"))
        val en = TextOps.langId(spark, dir)
          .select(col("doc_id"), (col("lang_pred") === "en").as("is_en"))
        d.join(q, Seq("doc_id")).join(rep, Seq("doc_id"))
          .join(bad, Seq("doc_id")).join(en, Seq("doc_id"))
      })

  def curateAudit(spark: SparkSession, dir: String): DataFrame = {
    val cl = Contamination.decontaminate(spark, dir)
      .select(col("doc_id"), (!col("contaminated")).as("clean0"))
    val dup = Dedup.minhashLsh(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    gateCols(spark, dir)
      .join(cl, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("quality_pass"),
        col("rep_pass"), col("badwords_pass"), col("is_en"),
        coalesce(col("clean0"), lit(false)).as("clean"),
        col("is_dup").isNull.as("is_unique"))
      .withColumn("kept",
        col("quality_pass") && col("rep_pass") && col("badwords_pass")
          && col("is_en") && col("clean") && col("is_unique"))
      .withColumn("first_fail",
        when(!col("quality_pass"), "quality")
          .when(!col("rep_pass"), "repetition")
          .when(!col("badwords_pass"), "badwords")
          .when(!col("is_en"), "language")
          .when(!col("clean"), "contamination")
          .when(!col("is_unique"), "duplicate")
          .otherwise("none"))
  }

  // ---- incremental corpus refresh, one declarative plan ----

  /** The incremental-refresh composition — the CommonCrawl-refresh loop
    * a production corpus actually runs when the next crawl lands,
    * end-to-end as ONE plan: fabricate the next snapshot
    * ([[nextSnapshot]]), classify it against the current corpus
    * ([[snapshotDiffOf]]), then process ONLY the delta: each
    * added/changed document is near-dup-checked against the EXISTING
    * corpus (the session minhash band index, [[Dedup]]'s incremental
    * path — a re-found copy of content already in the lake is not new
    * data), quality- and language-gated on its NEW text, and priced:
    * `token_delta` is what the doc contributes to the corpus token
    * count if ingested (new − old for an accepted refresh, 0 for a
    * rejected one — the old version stays), and every `removed` key
    * contributes −old (a drop needs no gate). One row per affected key;
    * `sum(token_delta)` is the refresh's corpus-size delta.
    *
    * A changed doc colliding only with ITSELF (same key) is a refresh,
    * not a duplicate — self-pairs don't block ingestion.
    *
    * Scale shape: the batch (≪ corpus) builds its own shingle/band
    * tables and joins the corpus's PERSISTENT index — the corpus is
    * never re-shingled, never shuffled; gates are row-local projections
    * of the batch; the diff is one fixed-width full-outer key join.
    */
  def pipelineIncremental(spark: SparkSession, dir: String): DataFrame = {
    val old = docs(spark, dir).select(col("doc_id"), col("text"))
    val next = nextSnapshot(spark, dir)
    val diff = snapshotDiffOf(old, next)
    val batch = next
      .join(diff.where(col("status").isin("added", "changed")), "doc_id")
      .select(col("doc_id"), col("status"), col("text"))
    val dup = Dedup.minhashLshAgainstIndex(
        batch.select("doc_id", "text"), Dedup.corpusIndex(spark, dir))
      .where(col("new_doc_id") =!= col("corpus_doc_id"))
      .select(col("new_doc_id").as("doc_id")).distinct()
      .withColumn("dup_hit", lit(true))
    val gates = TextOps.qualityScoreOf(batch)
      .select(col("doc_id"), col("quality_pass"))
    val lang = batch.select(col("doc_id"),
      (TextOps.langPred === "en").as("is_en"))
    val oldTok = old.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens_old"))
    val isDup = coalesce(col("dup_hit"), lit(false))
    val accepted = !isDup && col("quality_pass") && col("is_en")
    val ingest = batch
      .select(col("doc_id"), col("status"),
        size(split(col("text"), " ")).cast("long").as("n_tokens_new"))
      .join(dup, Seq("doc_id"), "left")
      .join(gates, "doc_id")
      .join(lang, "doc_id")
      .join(oldTok, Seq("doc_id"), "left")
      .select(col("doc_id"), col("status"), isDup.as("is_dup"),
        col("quality_pass"), col("is_en"), accepted.as("accepted"),
        col("n_tokens_new"),
        coalesce(col("n_tokens_old"), lit(0L)).as("n_tokens_old"),
        when(accepted,
          col("n_tokens_new") - coalesce(col("n_tokens_old"), lit(0L)))
          .otherwise(0L).as("token_delta"))
    val removed = diff.where(col("status") === "removed")
      .join(oldTok, "doc_id")
      .select(col("doc_id"), col("status"), lit(false).as("is_dup"),
        lit(false).as("quality_pass"), lit(false).as("is_en"),
        lit(true).as("accepted"), lit(0L).as("n_tokens_new"),
        col("n_tokens_old"), (-col("n_tokens_old")).as("token_delta"))
    ingest.unionByName(removed)
  }

  // ---- the whole pipeline, one declarative plan ----

  /** The full training-data pipeline as ONE lazy DataFrame: strict
    * curation (quality ∩ English ∩ repetition ∩ decontaminated − near-
    * dups) → fixed-stride context chunking → token-budget shard packing.
    * What a user of this library actually ships — and a proof that the
    * whole path stays declarative: Catalyst sees every stage at once
    * (gate filters, the chunk generator, the two-level prefix sum) in a
    * single optimized plan with no materialization barrier between
    * stages.
    */
  def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val kept = curateStrict(spark, dir)
    packChunksOf(chunkOf(docs(spark, dir).join(kept, "doc_id")))
  }

  /** The WHOLE training-data pipeline — strict curation gates →
    * train-split selection → fixed-stride chunking → token-budget shard
    * packing → token-id encoding against a vocabulary built from the
    * chunked TRAINING stream itself (what the trainer consumes).
    * Output: one row per training chunk with its shard assignment and
    * id sequence — the tensor-ready form. Every stage is the library's
    * own operator. The id vocabulary deliberately derives from the
    * post-gate, post-split corpus: no token statistics leak in from
    * documents the model never sees.
    *
    * The chunk subtree feeds THREE consumers (packing, the vocabulary,
    * the encode join), so it is cut once with the session strategy
    * ([[graft.Materialize.session]]) instead of re-running the gate
    * family + chunker per branch (the [[Dedup]] rationale); the kept
    * set is the session-cached [[curateStrict]] checkpoint.
    */
  def pipelineTokens(spark: SparkSession, dir: String): DataFrame = {
    // the session strategy, EXCEPT reliable → a DISK_ONLY persist: this
    // cut is INTERNAL (no caller can ever release() it), and
    // reliable-checkpoint FILES outlive the ContextCleaner
    // (Materialize.Reliable doc) while persisted blocks are
    // cache-manager entries the cleaner reclaims on GC — a reliable
    // session would otherwise leak one full-table checkpoint dir per
    // invocation for the application lifetime. The cut is DAG-shaped
    // (read by three branches, never by a later round), so the lineage
    // a persist keeps is harmless here.
    val session = graft.Materialize.session(spark)
    val cut: DataFrame => DataFrame =
      if (session eq graft.Materialize.Reliable)
        _.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else session
    val kept = curateStrict(spark, dir)
    val train = splitAssignOf(docs(spark, dir))
      .where(col("split") === "train").select("doc_id")
    val chunks = cut(chunkOf(docs(spark, dir)
      .join(kept, "doc_id").join(train, "doc_id")))
    val packed = packChunksOf(chunks)
    val vocab = TextOps.vocabulary(
      chunks.select(col("chunk_text").as("text")))
    val enc = TextOps.encodeWith(chunks, vocab,
      Seq("doc_id", "chunk_id"), "chunk_text")
    packed.select("doc_id", "chunk_id", "shard")
      .join(enc, Seq("doc_id", "chunk_id"))
      .select(col("doc_id"), col("chunk_id"), col("shard"),
        col("n_tokens"), col("n_oov"),
        concat_ws(",", col("ids").cast("array<string>")).as("ids_csv"))
  }

  // ---- curriculum / annealing stages ----

  /** Score-bucket count for [[curriculum]] and the two cumulative-token
    * share boundaries: stage 0 = the first half of the token mass in
    * ascending-score order, stage 1 = the next 30%, stage 2 = the final
    * 20% — the anneal-on-best-last recipe (most tokens early from
    * average data, the tail of training reserved for the highest-score
    * slice). Boundaries compare as integer cross-products (2·cum ≥ T,
    * 5·cum ≥ 4·T), no float thresholds.
    */
  val CurriculumBuckets = 20L

  /** Curriculum stage assignment — the data-ordering step between
    * curation and packing: every document lands in a training stage by
    * its quality-proxy score (distinct-token ratio — row-local, the
    * [[TextOps.qualityScore]] signal), where stages are cumulative
    * TOKEN-share bands over ascending score. Deliberately
    * BUCKET-granular: the corpus is never globally sorted by a double —
    * docs map row-locally to [[CurriculumBuckets]] score buckets, the
    * ≤ B-row bucket-total table takes one tiny prefix-sum window, and
    * stages broadcast back. That is the 100 TB shape (a per-doc global
    * score sort would be the exact serial trap [[packShardsOf]]
    * avoids); within a bucket all docs share a stage, which is what a
    * production curriculum does anyway (stage decisions at cohort
    * granularity, not per document).
    *
    * Determinism: the score is an exact int/int division, bucket =
    * floor(score · B) clamped (IEEE-identical in DuckDB), totals are
    * exact integers, and the stage rule is integer comparisons.
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame =
    curriculumOf(docs(spark, dir))

  def curriculumOf(corpus: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val ratio = size(array_distinct(t)).cast("double") /
      size(t).cast("double")
    val base = corpus.select(col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      least(floor(ratio * CurriculumBuckets).cast("long"),
        lit(CurriculumBuckets - 1)).as("bucket"))
    // ≤ CurriculumBuckets rows end-to-end: the unpartitioned window is
    // bounded by B, never by the corpus
    val totals = base.groupBy("bucket").agg(sum(col("n_tokens")).as("t"))
    val w = Window.orderBy("bucket")
    val stages = totals
      .withColumn("cum_prev", coalesce(sum(col("t")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("t")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("bucket"),
        when(col("cum_prev") * 5 >= col("total") * 4, 2L)
          .when(col("cum_prev") * 2 >= col("total"), 1L)
          .otherwise(0L).as("stage"))
    base.join(broadcast(stages), "bucket")
      .select("doc_id", "bucket", "n_tokens", "stage")
  }

  /** k-anonymity threshold for [[kAnonymity]]: a quasi-identifier
    * combination shared by fewer than K documents is a
    * re-identification risk (Sweeney 2002).
    */
  val AnonK = 5L

  /** Width of the length bucket joining the quasi-identifier tuple. */
  val AnonLenBucket = 20L

  /** Training-data governance audit: k-anonymity over the release
    * metadata a corpus card exposes — every (lang, source,
    * length-bucket) quasi-identifier combination with its document
    * count and the at-risk flag (n < [[AnonK]]). The companion to the
    * row-level [[graft.operators.TextOps.piiScrub]]: scrubbing hides
    * values INSIDE documents, while rare metadata combinations leak
    * identity BETWEEN them — a release gate reads this table and
    * coarsens or drops the flagged cells before publishing.
    *
    * Scale shape: one row-local bucket projection + one
    * map-side-combined groupBy; output bounded by
    * |langs|·|sources|·|buckets|. Exact integers throughout.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityOf(Tables(spark, dir, "documents")
      .select("lang", "source", "text"))

  def kAnonymityOf(corpus: DataFrame): DataFrame =
    corpus
      .select(col("lang"), col("source"),
        expr(s"cast(size(split(text, ' ')) AS bigint)" +
          s" DIV $AnonLenBucket * $AnonLenBucket").as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("source"), col("len_bucket"),
        col("n_docs"), (col("n_docs") < AnonK).as("at_risk"))

  /** Minimum sensitive-value diversity for [[lDiversity]]. */
  val AnonL = 3L

  /** l-diversity audit — the companion [[kAnonymityOf]] needs before a
    * release ships: a group can be k-anonymous (many members) yet leak
    * its members' sensitive attribute when every member SHARES it, so
    * each quasi-identifier group (source, length bucket) also reports
    * how many DISTINCT sensitive values (here the author-community
    * proxy `lang`) it contains; groups below [[AnonL]] distinct values
    * are at risk (Machanavajjhala et al. '07). One map-side-combined
    * aggregate with an exact count-distinct per group — the same scale
    * shape as the k-anonymity rollup.
    * (source, len_bucket, n_docs, l_distinct, at_risk).
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    lDiversityOf(Tables(spark, dir, "documents")
      .select("lang", "source", "text"))

  def lDiversityOf(corpus: DataFrame): DataFrame =
    corpus
      .select(col("lang"), col("source"),
        expr(s"cast(size(split(text, ' ')) AS bigint)" +
          s" DIV $AnonLenBucket * $AnonLenBucket").as("len_bucket"))
      .groupBy("source", "len_bucket")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("l_distinct"))
      .select(col("source"), col("len_bucket"), col("n_docs"),
        col("l_distinct"), (col("l_distinct") < AnonL).as("at_risk"))

  /** t-closeness threshold (total-variation distance). */
  val AnonT = 0.5

  /** t-closeness audit — the third rung of the release-governance
    * ladder ([[kAnonymityOf]] → [[lDiversityOf]] → this; Li, Li &
    * Venkatasubramanian, ICDE '07): a group can be populous AND
    * diverse yet still leak when its sensitive-value DISTRIBUTION
    * diverges from the corpus baseline (e.g. a source whose documents
    * are 90% one language in a 30% corpus narrows the posterior).
    * For a categorical sensitive attribute the EMD of the t-closeness
    * definition with uniform ground distance IS the total-variation
    * distance, which is one exact rational per group:
    *
    *   t(g) = ½ Σ_v |p_g(v) − p(v)| = Σ_v |c_gv·n − c_v·n_g| / (2·n_g·n)
    *
    * carried in DECIMAL(38,0) internally.
    *
    * Output contract (hardened after a driver-environment hash
    * divergence on the r9 DECIMAL(38,0)+DOUBLE schema): tv_num/tv_den
    * are emitted as BIGINT — tv_num ≤ 2·n_g·n and tv_den = 2·n_g·n fit
    * while n_g·n < 2⁶² (any single audit shard below ~2·10⁹ docs; past
    * that the audit runs per-source-shard by contract, like the κ
    * audit). t_fp9 = ⌊tv_num·10⁹/tv_den⌋ is the integer fixed-point
    * distance (the PageRank DIV discipline), and the double `t_dist`
    * is one IEEE divide of exact BIGINT-cast operands — both engine-
    * and version-independent; flagged at t > [[AnonT]].
    *
    * Scale shape: value domain per group materializes as the BOUNDED
    * groups×languages cross join (both sides aggregates over
    * catalog-sized domains) left-joined to the observed group-value
    * counts — absent values contribute their full baseline mass, which
    * the inner-join spelling would silently drop; corpus touched once
    * for each of the two count tables, everything after is
    * dimension-sized.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame =
    tClosenessOf(Tables(spark, dir, "documents")
      .select("lang", "source", "text"))

  def tClosenessOf(corpus: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val b = corpus.select(col("lang"), col("source"),
      expr(s"cast(size(split(text, ' ')) AS bigint)" +
        s" DIV $AnonLenBucket * $AnonLenBucket").as("len_bucket"))
    val gv = b.groupBy("source", "len_bucket", "lang")
      .agg(count(lit(1)).as("c_gv"))
    val g = b.groupBy("source", "len_bucket")
      .agg(count(lit(1)).as("n_g"))
    val v = b.groupBy("lang").agg(count(lit(1)).as("c_v"))
    val n = b.agg(count(lit(1)).as("n"))
    g.crossJoin(broadcast(v)).crossJoin(broadcast(n))
      .join(gv, Seq("source", "len_bucket", "lang"), "left")
      .select(col("source"), col("len_bucket"), col("n_g"), col("n"),
        abs(coalesce(col("c_gv"), lit(0L)).cast(dec) * col("n").cast(dec)
          - col("c_v").cast(dec) * col("n_g").cast(dec)).as("term"))
      .groupBy("source", "len_bucket")
      .agg(first(col("n_g")).as("n_docs"),
        graft.functions.StableSum.checkedLong(sum(col("term")), "tv_num")
          .as("tv_num"),
        graft.functions.StableSum.checkedLong(
          lit(2L).cast(dec) * first(col("n_g")).cast(dec)
            * first(col("n")).cast(dec), "tv_den").as("tv_den"))
      .select(col("source"), col("len_bucket"), col("n_docs"),
        col("tv_num"), col("tv_den"),
        expr("CAST((CAST(tv_num AS DECIMAL(38,0))" +
          " * CAST(1000000000 AS DECIMAL(38,0)))" +
          " DIV CAST(tv_den AS DECIMAL(38,0)) AS BIGINT)").as("t_fp9"),
        (col("tv_num").cast("double") / col("tv_den").cast("double"))
          .as("t_dist"))
      .withColumn("at_risk", col("t_dist") > AnonT)
  }

  /** Sequence-length bucket boundaries (tokens) for [[padEfficiency]],
    * and the flat baseline everything pads to without bucketing.
    */
  val PadBuckets = Seq(64L, 128L, 256L, 512L)

  /** Padding-efficiency audit of length bucketing — the data-loader
    * decision every training run pays for on EVERY batch: under
    * 'bucketed', each document pads to the smallest [[PadBuckets]]
    * boundary holding it (longer docs cap at the max boundary — the
    * upstream chunker's contract); under 'flat', everything pads to
    * the max. (policy, bucket, n_docs, sum_tokens, sum_pad, pad_frac)
    * — the pad_frac delta between policies is the wasted-FLOPs number
    * that justifies bucketing. One row-local projection + two bounded
    * groupBys; integers everywhere but the final fraction.
    */
  def padEfficiency(spark: SparkSession, dir: String): DataFrame =
    padEfficiencyOf(docs(spark, dir))

  def padEfficiencyOf(corpus: DataFrame): DataFrame = {
    val maxB = PadBuckets.last
    val nTok = least(size(split(col("text"), " ")).cast("long"),
      lit(maxB))
    val bucket = PadBuckets.init.reverse.foldLeft(lit(maxB)) {
      (acc, b) => when(col("n_tok") <= b, lit(b)).otherwise(acc)
    }
    val base = corpus.select(nTok.as("n_tok"))
    def rollup(policy: String, bucketCol: Column): DataFrame =
      base.select(col("n_tok"), bucketCol.as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          sum(col("bucket") - col("n_tok")).as("sum_pad"))
        .select(lit(policy).as("policy"), col("bucket"), col("n_docs"),
          col("sum_tokens"), col("sum_pad"),
          (col("sum_pad").cast("double")
            / (col("sum_pad") + col("sum_tokens")).cast("double"))
            .as("pad_frac"))
    rollup("bucketed", bucket).unionByName(rollup("flat", lit(maxB)))
  }

  /** Number of loader shards for [[shuffleAssign]]. */
  val ShuffleShards = 8L

  /** Conf knob for the number of uniform-key buckets the epoch-shuffle
    * global rank is computed within (see [[shuffleAssignOf]]); sized so
    * one bucket's rows fit a task comfortably — at 10¹¹ documents the
    * default leaves ~10⁷ rows per bucket window.
    */
  val RankBucketsConf = "graft.shuffle.rankBuckets"
  val RankBucketsDefault = 4096L

  /** Deterministic epoch shuffle — the reproducible data-loader order a
    * training run pins: every document ranked by its salted md5
    * uniform (a seeded shuffle with no RNG state, the [[splitAssign]]
    * discipline), dealt round-robin into [[ShuffleShards]] loader
    * shards, with its within-shard position. Re-running with the same
    * corpus replays the identical order on any cluster; changing the
    * salt is the new epoch. Per-shard audit rows:
    * (shard, n_docs, first_doc_id, sum_rank).
    *
    * Scale shape: a bare `row_number() OVER (ORDER BY u)` would move
    * EVERY row through one partition (Spark's unpartitioned WindowExec
    * is single-partition — only the sort underneath is range-
    * partitioned), so the global rank is computed the same way
    * [[packShardsOf]] computes its global prefix sum: bucket the
    * uniform into g = ⌊u·B⌋ (order-preserving, since u ∈ [0,1) and
    * equal u's share a bucket; uniform by construction, so no skew),
    * rank WITHIN each bucket under a hash-partitioned window, and add
    * the per-bucket exclusive row-count offsets from
    * [[exclusiveOffsets]] — whose own deepest single-partition stage
    * sees ≤ B/[[PackGroup]]^depth rows, never the corpus. B is the
    * [[RankBucketsConf]] session conf (default
    * [[RankBucketsDefault]]). Identical ranks to the global window;
    * everything after is modular arithmetic and one bounded groupBy.
    */
  def shuffleAssign(spark: SparkSession, dir: String): DataFrame =
    shuffleAssignOf(docs(spark, dir))

  def shuffleAssignOf(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val buckets = corpus.sparkSession.conf
      .get(RankBucketsConf, RankBucketsDefault.toString).toLong
    val u = graft.functions.Md5Uniform
      .uniform(concat(lit("shuffle:"), col("doc_id").cast("string")))
    val keyed = corpus
      .select(col("doc_id"), u.as("u"))
      .withColumn("g", floor(col("u") * buckets).cast("long"))
    val offsets = exclusiveOffsets(
      keyed.groupBy("g").agg(count(lit(1)).as("t")), OffsetsDepth)
    keyed
      .withColumn("wrn", row_number().over(
        Window.partitionBy("g").orderBy(col("u"), col("doc_id")))
        .cast("long"))
      .join(offsets, "g")
      .withColumn("rank", col("goff") + col("wrn"))
      .select(col("doc_id"), col("rank"),
        ((col("rank") - 1) % ShuffleShards).as("shard"),
        expr(s"(rank - 1) DIV $ShuffleShards").as("pos"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("pos"), col("doc_id"))).as("f"),
        sum(col("rank")).as("sum_rank"))
      .select(col("shard"), col("n_docs"),
        col("f.doc_id").as("first_doc_id"), col("sum_rank"))
  }


  /** Waterfill solve as shared oracle CTEs ending in
    * `alloc(source, c, allot, capped)` — used by both the
    * `llm_mix_waterfill` entry and the budget-fill composition.
    */
  // lazy: declared above WaterNum/WaterDen, which it interpolates
  private lazy val waterfillCtes: String =
    s"""c AS (
       |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT
       |    AS c
       |  FROM documents GROUP BY 1),
       |t AS (
       |  SELECT sum(c)::BIGINT AS ctot, count(*)::BIGINT AS k,
       |    (sum(c) * $WaterNum // $WaterDen)::BIGINT AS t
       |  FROM c),
       |r AS (
       |  SELECT source, c.c, (row_number() OVER w)::BIGINT AS i,
       |    (sum(c.c) OVER w)::BIGINT AS p, t.ctot, t.k, t.t
       |  FROM c, t
       |  WINDOW w AS (ORDER BY c.c, source ROWS UNBOUNDED PRECEDING)),
       |f AS (
       |  SELECT *, p - c AS pprev,
       |    (p - c) + (k - i + 1) * c >= t AS feas
       |  FROM r),
       |m AS (SELECT i AS m, pprev AS pm FROM f WHERE feas
       |      ORDER BY i LIMIT 1),
       |cap AS (
       |  SELECT f.source, f.c,
       |    (t - pm) // (k - m.m + 1) AS lvl,
       |    (t - pm) % (k - m.m + 1) AS rem,
       |    (row_number() OVER (ORDER BY f.source))::BIGINT AS crk
       |  FROM f, m WHERE f.i >= m.m),
       |alloc AS (
       |  SELECT f.source, f.c, f.c AS allot, false AS capped
       |  FROM f, m WHERE f.i < m.m
       |  UNION ALL
       |  SELECT source, c,
       |    (lvl + CASE WHEN crk <= rem THEN 1 ELSE 0 END)::BIGINT,
       |    true
       |  FROM cap)""".stripMargin

  /** Waterfill target: keep this fraction of corpus tokens (6/10). */
  val WaterNum = 6L
  val WaterDen = 10L

  /** Waterfilling token-budget allocation — the "cap the biggest
    * sources" solve behind proportional data mixing: given per-source
    * token counts and a target budget T = [[WaterNum]]/[[WaterDen]] of
    * the corpus, find the waterline L such that Σ min(cᵢ, L) = T;
    * sources below the line keep everything, sources above are capped
    * at L (the fractional waterline's remainder goes to the
    * name-ascending first capped sources, one token each — a pinned
    * deterministic convention, so Σ allot = T EXACTLY). Entirely
    * integer arithmetic: the segment test pⱼ₋₁ + (k−j+1)·cⱼ ≥ T, the
    * level (T − pₘ₋₁) DIV (k−m+1), and its remainder.
    *
    * Scale shape: one map-side-combined per-source token count, then
    * every window runs over the |sources|-row aggregate (the
    * catalog-sized dimension, never the corpus — the
    * `llm_source_quality` class, pinned in WindowBoundSpec).
    */
  def mixWaterfill(spark: SparkSession, dir: String): DataFrame =
    mixWaterfillOf(Tables(spark, dir, "documents")
      .select("source", "text"))

  def mixWaterfillOf(corpus: DataFrame): DataFrame = {
    val counts = corpus.groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("c"))
    val tot = counts.agg(sum(col("c")).as("ctot"),
      count(lit(1)).as("k"))
      .select(col("ctot"), col("k"),
        expr(s"(ctot * $WaterNum) DIV $WaterDen").as("t"))
    val w = Window.orderBy(col("c"), col("source"))
    val flagged = counts.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pprev", col("p") - col("c"))
      .withColumn("feas",
        col("pprev") + (col("k") - col("i") + 1) * col("c") >= col("t"))
    // the first feasible index exists whenever T ≤ corpus total (at
    // i = k the test reads ctot ≥ T), which WaterNum/WaterDen < 1
    // guarantees
    val mRow = flagged.where(col("feas"))
      .orderBy(col("i")).limit(1)
      .select(col("i").as("m"), col("pprev").as("pm"))
    val joined = flagged.crossJoin(broadcast(mRow))
    val kept = joined.where(col("i") < col("m"))
      .select(col("source"), col("c"), col("c").as("allot"),
        lit(false).as("capped"))
    val capped = joined.where(col("i") >= col("m"))
      .withColumn("lvl", expr("(t - pm) DIV (k - m + 1)"))
      .withColumn("rem", expr("(t - pm) % (k - m + 1)"))
      .withColumn("crk",
        row_number().over(Window.orderBy("source")).cast("long"))
      .select(col("source"), col("c"),
        (col("lvl") + when(col("crk") <= col("rem"), 1L).otherwise(0L))
          .as("allot"),
        lit(true).as("capped"))
    kept.unionAll(capped)
      .select(col("source"), col("c").as("n_tokens"), col("allot"),
        col("capped"),
        (col("allot").cast("double") / col("c").cast("double"))
          .as("keep_frac"))
  }

  /** The waterfill CONSUMED: fill each source's [[mixWaterfill]] token
    * allotment greedily with its highest-priority documents (priority
    * = distinct-token ratio, the quality-signal spelling shared with
    * `llm_quality_score`; ties on doc_id), stopping at the first
    * document that would overflow the budget — the greedy-prefix
    * semantic of every shard packer here. Per-source report:
    * docs kept, tokens kept, allotment, utilization.
    *
    * Shape: the solve runs over the |sources| aggregate; the fill is
    * ONE per-source ranking window with a running token sum over the
    * corpus partitioned by source, plus a broadcast join of the
    * |sources|-row allotment table. Sources whose best document
    * already overflows report 0 kept (LEFT join keeps the row).
    */
  def curateBudget(spark: SparkSession, dir: String): DataFrame =
    curateBudgetOf(Tables(spark, dir, "documents")
      .select("doc_id", "source", "text"))

  def curateBudgetOf(corpus: DataFrame): DataFrame = {
    // the |sources|-row solve is cut eagerly: it feeds both the fill
    // join and the final report join, and would otherwise re-expand
    // (and re-run) per reference
    val allot = graft.Materialize.Local(
      mixWaterfillOf(corpus.select("source", "text"))
        .select(col("source"), col("allot")))
    val t = split(col("text"), " ")
    val scored = corpus.select(col("doc_id"), col("source"),
      size(t).cast("long").as("n_tok"),
      (size(array_distinct(t)).cast("double")
        / size(t).cast("double")).as("prio"))
    val w = Window.partitionBy("source")
      .orderBy(col("prio").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = scored
      .withColumn("cum", sum(col("n_tok")).over(w))
      .join(broadcast(allot), "source")
      .where(col("cum") <= col("allot"))
    val ks = kept.groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"),
        max(col("cum")).as("tokens_kept"))
    allot.join(ks, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        col("allot"),
        when(col("allot") === 0, lit(0.0))
          .otherwise(coalesce(col("tokens_kept"), lit(0L)).cast("double")
            / col("allot").cast("double")).as("utilization"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_curate_budget" -> curateBudget,
    "llm_mix_waterfill" -> mixWaterfill,
    "llm_pad_efficiency" -> padEfficiency,
    "llm_shuffle_assign" -> shuffleAssign,
    "llm_k_anonymity" -> kAnonymity,
    "llm_l_diversity" -> lDiversity,
    "llm_t_closeness" -> tCloseness,
    "llm_curriculum" -> curriculum,
    "llm_pipeline_incremental" -> pipelineIncremental,
    "llm_pipeline_tokens" -> pipelineTokens,
    "llm_pipeline_e2e" -> pipelineE2e,
    "llm_gate_report" -> gateReport,
    "llm_corpus_card" -> corpusCard,
    "llm_curate_audit" -> curateAudit,
    "llm_profile" -> profile,
    "llm_dq_checks" -> dqChecks,
    "llm_chunk" -> chunk,
    "llm_pack_chunks" -> packChunks,
    "llm_pack_offsets" -> packOffsets,
    "llm_mix_temperature" -> mixTemperature,
    "llm_dataset_hash" -> datasetHash,
    "llm_shard_stats" -> shardStats,
    "llm_curate_strict" -> curateStrict,
    "llm_curate_learned" -> curateLearned,
    "llm_curate_diverse" -> curateDiverse,
    "llm_curate_coverage" -> coverageSelect,
    "llm_doc_pareto" -> docPareto,
    "llm_quality_eval" -> qualityEval,
    "llm_split" -> splitAssign,
    "llm_split_grouped" -> splitGrouped,
    "llm_upsert" -> upsert,
    "llm_diff" -> snapshotDiff,
    "llm_bpe_drift" -> bpeDrift,
    "llm_quality_drift" -> qualityDrift,
    "llm_sample_stratified" -> sampleStratified,
    "llm_sample_topn" -> sampleTopN,
    "llm_mix_weights" -> mixWeights,
    "llm_mix_epochs" -> mixEpochs,
    "llm_mix_upsample" -> mixUpsample,
    "llm_sample_pps" -> samplePps,
    "llm_mix_apply" -> mixApply,
    "llm_mix_check" -> mixCheck,
    "llm_pack_shards" -> packShards,
    "llm_curate" -> curate
  )

  private val rateSql =
    SampleRates.map { case (l, r) => s"WHEN '$l' THEN $r" }
      .mkString("CASE lang ", " ", s" ELSE $DefaultRate END")

  private val uSql = graft.functions.Md5Uniform.sql("doc_id")

  /** Shared by the `llm_curate` entry and (as a subquery) the strict
    * gate's oracle.
    */
  private val curateSql: String =
    s"""WITH q AS (SELECT doc_id
       |           FROM (${TextOps.oracle("llm_quality_score")})
       |           WHERE quality_pass),
       |l AS (SELECT doc_id FROM (${TextOps.oracle("llm_lang_id")})
       |      WHERE lang_pred = 'en'),
       |dup AS (SELECT DISTINCT doc_b AS doc_id
       |        FROM (${Dedup.oracle("llm_dedup_minhash")}))
       |SELECT d.doc_id FROM documents d
       |JOIN q USING (doc_id) JOIN l USING (doc_id)
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin

  /** Chunking SQL over any (doc_id, text) relation — shared by the
    * `llm_chunk` entry ([[chunkSql]] over `documents`), `llm_pack_chunks`,
    * and the end-to-end pipeline oracle (over the curated subset).
    */
  private def chunkSqlFrom(src: String): String =
    s"""SELECT doc_id,
       |  start // $ChunkStride AS chunk_id,
       |  start,
       |  len(list_slice(t, start + 1, start + $ChunkSize)) AS n_tokens,
       |  array_to_string(list_slice(t, start + 1, start + $ChunkSize), ' ')
       |    AS chunk_text
       |FROM (SELECT doc_id, t, unnest(range(0, len(t), $ChunkStride))
       |        AS start
       |      FROM (SELECT doc_id, string_split(text, ' ') AS t
       |            FROM $src))""".stripMargin

  private val chunkSql: String = chunkSqlFrom("documents")

  /** Shared by the `llm_curate_strict` entry and the end-to-end
    * pipeline oracle.
    */
  private lazy val curateStrictSql: String =
    s"""WITH rep AS (SELECT doc_id
       |            FROM (${TextOps.oracle("llm_rep_ngrams")})
       |            WHERE rep_pass),
       |cl AS (SELECT doc_id
       |       FROM (${Contamination.oracle("llm_decontaminate")})
       |       WHERE NOT contaminated)
       |SELECT doc_id FROM ($curateSql)
       |JOIN rep USING (doc_id) JOIN cl USING (doc_id)""".stripMargin

  /** Shared by the `llm_pack_chunks` entry and (as a subquery)
    * `llm_shard_stats`' oracle.
    */
  private lazy val packChunksOracleSql: String =
    s"""WITH ch AS ($chunkSql)
       |SELECT doc_id, chunk_id, n_tokens::BIGINT AS n_tokens,
       |  ((SUM(n_tokens) OVER (ORDER BY doc_id, chunk_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |    - n_tokens) // $ShardBudget)::BIGINT AS shard
       |FROM ch""".stripMargin

  private lazy val packOffsetsOracleSql: String =
    s"""WITH ch AS ($chunkSql)
       |SELECT doc_id, chunk_id, n_tokens::BIGINT AS n_tokens,
       |  ((SUM(n_tokens) OVER (ORDER BY doc_id, chunk_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |    - n_tokens) // $ShardBudget)::BIGINT AS shard,
       |  ((SUM(n_tokens) OVER (ORDER BY doc_id, chunk_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |    - n_tokens) % $ShardBudget)::BIGINT AS "offset"
       |FROM ch""".stripMargin

  /** Shared by the `llm_split` entry and (as a subquery)
    * `llm_pipeline_tokens`' oracle.
    */
  private val splitOracleSql: String =
    s"""SELECT doc_id, u,
       |  CASE WHEN u < $TrainFrac THEN 'train'
       |       WHEN u < $ValCut THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id,
       |        ${graft.functions.Md5Uniform
      .sql(s"'$SplitSalt' || doc_id::VARCHAR")} AS u
       |      FROM documents)""".stripMargin

  /** Shared by the `llm_mix_weights` entry and (as a subquery)
    * `llm_mix_apply`'s oracle.
    */
  private val mixWeightsOracleSql: String =
    s"""WITH pl AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs,
       |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
       |  FROM documents GROUP BY lang),
       |g AS (
       |  SELECT sum(n_tokens)::BIGINT AS tot_tokens,
       |    count(*)::BIGINT AS n_langs FROM pl)
       |SELECT lang, n_docs, n_tokens,
       |  n_tokens::DOUBLE / tot_tokens::DOUBLE AS token_share,
       |  (n_tokens + $MixSmooth)::BIGINT::DOUBLE
       |    / (tot_tokens + $MixSmooth * n_langs)::BIGINT::DOUBLE
       |    AS mix_weight
       |FROM pl, g""".stripMargin

  private val mixApplyOracleSql: String =
    s"""WITH mw AS (
       |  SELECT lang,
       |    least(1.0, $MixTargetFrac * mix_weight / token_share)
       |      AS keep_rate
       |  FROM (MIX_WEIGHTS_SQL))
       |SELECT doc_id, lang, keep_rate
       |FROM documents JOIN mw USING (lang)
       |WHERE ${graft.functions.Md5Uniform
      .sql("doc_id::VARCHAR || ':mix'")} < keep_rate""".stripMargin
      .replace("MIX_WEIGHTS_SQL", mixWeightsOracleSql)

  /** One profile row per column, UNION ALL — the oracle's per-column
    * scans vs the Spark side's single-pass explode.
    */
  private val profileOracleSql: String = {
    def row(name: String, sExpr: String, dExpr: String) =
      s"""SELECT '$name' AS col_name, count(*) AS n_rows,
         |  sum(CASE WHEN $sExpr IS NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_null,
         |  count(DISTINCT $sExpr) AS n_distinct,
         |  min($sExpr) AS min_str, max($sExpr) AS max_str,
         |  min($dExpr) AS min_num, max($dExpr) AS max_num
         |FROM documents""".stripMargin
    Seq(
      row("doc_id", "doc_id::VARCHAR", "doc_id::DOUBLE"),
      row("lang", "lang", "CAST(NULL AS DOUBLE)"),
      row("source", "source", "CAST(NULL AS DOUBLE)"),
      row("n_chars", "n_chars::VARCHAR", "n_chars::DOUBLE"),
      row("text", "text", "CAST(NULL AS DOUBLE)")
    ).mkString("", "\nUNION ALL\n", "")
  }

  /** Drift oracle: the fabricated next snapshot as a text CTE, TWO full
    * BPE chains (tagged CTE names) in one statement, FULL OUTER on step.
    */
  private def bpeDriftOracleSql: String = {
    val n = TextOps.BpeMerges
    val nxt =
      s"""nxtdocs AS MATERIALIZED (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text FROM documents
         |    WHERE doc_id % $UpsertMod != 0
         |    UNION ALL
         |    SELECT doc_id,
         |      array_to_string(list_reverse(string_split(text, ' ')), ' ')
         |        AS text
         |    FROM documents WHERE doc_id % $UpsertMod = 0
         |    UNION ALL
         |    SELECT doc_id + $DiffAddOffset AS doc_id, text
         |    FROM documents WHERE doc_id % $DiffAddMod = 0)
         |  WHERE doc_id % $DiffDropMod != 0)""".stripMargin
    val selA = (1 to n)
      .map(i => s"SELECT step, merged, cnt FROM p$i")
      .mkString("\nUNION ALL\n")
    val selB = (1 to n)
      .map(i => s"SELECT step, merged, cnt FROM xp$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${TextOps.bpeChainCtes(n)},
$nxt,
${TextOps.bpeChainCtes(n, "nxtdocs", "x")},
ma AS ($selA),
mb AS ($selB)
SELECT coalesce(ma.step, mb.step) AS step,
  ma.merged AS merged_old, mb.merged AS merged_new,
  (ma.merged IS NOT DISTINCT FROM mb.merged) AS same,
  ma.cnt AS cnt_old, mb.cnt AS cnt_new
FROM ma FULL OUTER JOIN mb ON ma.step = mb.step"""
  }

  /** Fit-on-train → score-all, replayed: the probe's unrolled training
    * CTEs with the epoch scans redirected to the split-filtered `ft`
    * (one added WHERE), then per-split integer-count metrics. The u
    * expression is textually identical to `llm_split`'s, so the two
    * entries can never disagree on an assignment.
    */
  private lazy val qualityEvalOracleSql: String = {
    val uExpr = graft.functions.Md5Uniform
      .sql(s"'$SplitSalt' || doc_id::VARCHAR")
    val extra =
      s"""fs AS MATERIALIZED (
  SELECT f.*, CASE WHEN u < $TrainFrac THEN 'train'
                   WHEN u < $ValCut THEN 'val'
                   ELSE 'test' END AS split
  FROM (SELECT *, $uExpr AS u FROM feat) f),
ft AS MATERIALIZED (SELECT * FROM fs WHERE split = 'train')"""
    def n(c: String) = s"sum(CASE WHEN $c THEN 1 ELSE 0 END)::BIGINT"
    s"""${Quality.probeCtes("ft", extra)}
SELECT split, count(*)::BIGINT AS n,
  ${n("hit")}::DOUBLE / count(*)::BIGINT::DOUBLE AS acc,
  ${n("y > 0.5")}::DOUBLE / count(*)::BIGINT::DOUBLE AS pos_rate,
  CASE WHEN ${n("y > 0.5")} = 0 THEN 'NaN'::DOUBLE
       ELSE ${n("hit AND y > 0.5")}::DOUBLE
            / ${n("y > 0.5")}::DOUBLE END AS tpr,
  CASE WHEN ${n("y < 0.5")} = 0 THEN 'NaN'::DOUBLE
       ELSE ${n("hit AND y < 0.5")}::DOUBLE
            / ${n("y < 0.5")}::DOUBLE END AS tnr
FROM (
  SELECT fs.split, fs.y,
    ((${Quality.scoreSql("t", "fs")}) > 0.5) = (fs.y > 0.5) AS hit
  FROM fs, t${Quality.ProbeEpochs} t)
GROUP BY split"""
  }

  /** The refresh composition replayed: next snapshot → diff → batch →
    * all-pairs exact Jaccard vs the corpus (the incremental-dedup
    * contract — banding must recover every passing pair) → batch-text
    * gates → the same per-key token ledger. The gate expressions are
    * the SHARED spellings ([[TextOps.qualityPassSql]] /
    * [[TextOps.langPredSql]]), so entry and composition can't drift.
    */
  /** The fabricated next crawl WITH text as a standalone SELECT —
    * shared by the incremental composition and the quality-drift
    * oracle, so the two replay the same snapshot.
    */
  private lazy val nextSnapshotSelectSql: String =
    s"""SELECT doc_id, text FROM (
       |    SELECT doc_id, text FROM documents
       |    WHERE doc_id % $UpsertMod != 0
       |    UNION ALL
       |    SELECT doc_id,
       |      array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |        AS text
       |    FROM documents WHERE doc_id % $UpsertMod = 0
       |    UNION ALL
       |    SELECT doc_id + $DiffAddOffset AS doc_id, text
       |    FROM documents WHERE doc_id % $DiffAddMod = 0)
       |  WHERE doc_id % $DiffDropMod != 0""".stripMargin

  private lazy val pipelineIncrementalOracleSql: String =
    s"""WITH nxt AS MATERIALIZED (
       |  $nextSnapshotSelectSql),
       |st AS MATERIALIZED (
       |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |    CASE WHEN o.doc_id IS NULL THEN 'added'
       |         WHEN n.doc_id IS NULL THEN 'removed'
       |         WHEN md5(o.text) = md5(n.text) THEN 'unchanged'
       |         ELSE 'changed' END AS status
       |  FROM documents o FULL OUTER JOIN nxt n ON o.doc_id = n.doc_id),
       |batch AS MATERIALIZED (
       |  SELECT n.doc_id, st.status, n.text
       |  FROM nxt n JOIN st ON n.doc_id = st.doc_id
       |  WHERE st.status IN ('added', 'changed')),
       |${Shingles.shSql(3)},
       |${Shingles.shSql(3, "batch", "b")},
       |dp AS MATERIALIZED (
       |  SELECT a.doc_id, len(list_intersect(a.s, c.s)) i,
       |    len(a.s) la, len(c.s) lc
       |  FROM bsh a JOIN sh c ON a.doc_id != c.doc_id),
       |dup AS MATERIALIZED (
       |  SELECT DISTINCT doc_id FROM dp
       |  WHERE i::DOUBLE / (la + lc - i)::DOUBLE
       |    >= ${Dedup.JaccardMinhash}),
       |g AS MATERIALIZED (
       |  SELECT doc_id, ${TextOps.qualityPassSql} AS quality_pass,
       |    (${TextOps.langPredSql}) = 'en' AS is_en,
       |    len(string_split(text, ' '))::BIGINT AS n_new
       |  FROM batch),
       |ot AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_old
       |       FROM documents),
       |ing AS (
       |  SELECT b.doc_id, b.status,
       |    (d.doc_id IS NOT NULL) AS is_dup,
       |    g.quality_pass, g.is_en,
       |    (d.doc_id IS NULL AND g.quality_pass AND g.is_en) AS accepted,
       |    g.n_new AS n_tokens_new,
       |    coalesce(ot.n_old, 0::BIGINT) AS n_tokens_old,
       |    CASE WHEN d.doc_id IS NULL AND g.quality_pass AND g.is_en
       |         THEN g.n_new - coalesce(ot.n_old, 0::BIGINT)
       |         ELSE 0::BIGINT END AS token_delta
       |  FROM batch b
       |  JOIN g ON b.doc_id = g.doc_id
       |  LEFT JOIN dup d ON b.doc_id = d.doc_id
       |  LEFT JOIN ot ON b.doc_id = ot.doc_id),
       |rem AS (
       |  SELECT st.doc_id, st.status, false AS is_dup,
       |    false AS quality_pass, false AS is_en, true AS accepted,
       |    0::BIGINT AS n_tokens_new, ot.n_old AS n_tokens_old,
       |    -ot.n_old AS token_delta
       |  FROM st JOIN ot ON st.doc_id = ot.doc_id
       |  WHERE st.status = 'removed')
       |SELECT * FROM ing UNION ALL SELECT * FROM rem""".stripMargin

  /** The gate-report SQL, shared between its own entry and the corpus
    * card's gate-rate section (so the two cannot drift).
    */
  private def gateReportOracleSql: String =
    s"""WITH q AS (SELECT doc_id, quality_pass
       |           FROM (${TextOps.oracle("llm_quality_score")})),
       |rep AS (SELECT doc_id, rep_pass
       |        FROM (${TextOps.oracle("llm_rep_ngrams")})),
       |bad AS (SELECT doc_id, badwords_pass
       |        FROM (${TextOps.oracle("llm_badwords")})),
       |en AS (SELECT doc_id, lang_pred = 'en' AS is_en
       |       FROM (${TextOps.oracle("llm_lang_id")})),
       |cl AS (SELECT doc_id, NOT contaminated AS clean
       |       FROM (${Contamination.oracle("llm_decontaminate")})),
       |dup AS (SELECT DISTINCT doc_b AS doc_id
       |        FROM (${Dedup.oracle("llm_dedup_minhash")}))
       |SELECT d.source, count(*) AS n_docs,
       |  sum(CASE WHEN quality_pass THEN 1 ELSE 0 END)::BIGINT
       |    AS n_quality,
       |  sum(CASE WHEN rep_pass THEN 1 ELSE 0 END)::BIGINT AS n_rep,
       |  sum(CASE WHEN badwords_pass THEN 1 ELSE 0 END)::BIGINT
       |    AS n_badwords,
       |  sum(CASE WHEN is_en THEN 1 ELSE 0 END)::BIGINT AS n_en,
       |  sum(CASE WHEN coalesce(clean, false) THEN 1 ELSE 0 END)::BIGINT
       |    AS n_clean,
       |  sum(CASE WHEN dup.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_unique,
       |  sum(CASE WHEN quality_pass AND rep_pass AND badwords_pass
       |    AND is_en AND coalesce(clean, false) AND dup.doc_id IS NULL
       |    THEN 1 ELSE 0 END)::BIGINT AS n_corpus
       |FROM documents d
       |JOIN q USING (doc_id) JOIN rep USING (doc_id)
       |JOIN bad USING (doc_id) JOIN en USING (doc_id)
       |LEFT JOIN cl USING (doc_id)
       |LEFT JOIN dup ON d.doc_id = dup.doc_id
       |GROUP BY d.source""".stripMargin

  private val padOracleSql: String = {
    val cases = PadBuckets.init
      .map(b => s"WHEN n_tok <= $b THEN $b").mkString(" ")
    s"""WITH t AS (
       |  SELECT least(len(string_split(text, ' '))::BIGINT,
       |    ${PadBuckets.last}) AS n_tok
       |  FROM documents),
       |b AS (
       |  SELECT n_tok,
       |    (CASE $cases ELSE ${PadBuckets.last} END)::BIGINT AS bucket
       |  FROM t),
       |rows AS (
       |  SELECT 'bucketed' AS policy, bucket,
       |    count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS sum_tokens,
       |    sum(bucket - n_tok)::BIGINT AS sum_pad
       |  FROM b GROUP BY bucket
       |  UNION ALL
       |  SELECT 'flat', ${PadBuckets.last}::BIGINT,
       |    count(*)::BIGINT, sum(n_tok)::BIGINT,
       |    sum(${PadBuckets.last} - n_tok)::BIGINT
       |  FROM t)
       |SELECT policy, bucket, n_docs, sum_tokens, sum_pad,
       |  sum_pad::DOUBLE / (sum_pad + sum_tokens)::DOUBLE AS pad_frac
       |FROM rows""".stripMargin
  }

  private val shuffleOracleSql: String =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    ${graft.functions.Md5Uniform.sql(
             "'shuffle:' || doc_id::VARCHAR")} AS u
       |  FROM documents),
       |r AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY u, doc_id)::BIGINT AS rank
       |  FROM u),
       |a AS (
       |  SELECT doc_id, rank, (rank - 1) % $ShuffleShards AS shard,
       |    (rank - 1) // $ShuffleShards AS pos
       |  FROM r)
       |SELECT shard, count(*)::BIGINT AS n_docs,
       |  arg_min(doc_id, pos) AS first_doc_id,
       |  sum(rank)::BIGINT AS sum_rank
       |FROM a GROUP BY shard""".stripMargin

  val oracle: Map[String, String] = Map(
    "llm_pad_efficiency" -> padOracleSql,
    "llm_shuffle_assign" -> shuffleOracleSql,
    "llm_l_diversity" ->
      s"""SELECT source, len_bucket, n_docs, l_distinct,
         |  l_distinct < $AnonL AS at_risk
         |FROM (
         |  SELECT source,
         |    len(string_split(text, ' '))::BIGINT
         |      // $AnonLenBucket * $AnonLenBucket AS len_bucket,
         |    count(*)::BIGINT AS n_docs,
         |    count(DISTINCT lang)::BIGINT AS l_distinct
         |  FROM documents
         |  GROUP BY 1, 2)""".stripMargin,
    "llm_t_closeness" ->
      s"""WITH b AS (
         |  SELECT lang, source,
         |    len(string_split(text, ' '))::BIGINT
         |      // $AnonLenBucket * $AnonLenBucket AS len_bucket
         |  FROM documents),
         |gv AS (SELECT source, len_bucket, lang, count(*)::BIGINT AS c_gv
         |       FROM b GROUP BY 1, 2, 3),
         |g AS (SELECT source, len_bucket, count(*)::BIGINT AS n_g
         |      FROM b GROUP BY 1, 2),
         |v AS (SELECT lang, count(*)::BIGINT AS c_v FROM b GROUP BY 1),
         |nn AS (SELECT count(*)::BIGINT AS n FROM b),
         |t AS (
         |  SELECT g.source, g.len_bucket, g.n_g, nn.n,
         |    abs(coalesce(gv.c_gv, 0)::HUGEINT * nn.n
         |        - v.c_v::HUGEINT * g.n_g) AS term
         |  FROM g CROSS JOIN v CROSS JOIN nn
         |  LEFT JOIN gv ON gv.source = g.source
         |    AND gv.len_bucket = g.len_bucket AND gv.lang = v.lang)
         |SELECT source, len_bucket, n_docs, tv_num, tv_den,
         |  ((tv_num::HUGEINT * 1000000000) // tv_den)::BIGINT AS t_fp9,
         |  tv_num::DOUBLE / tv_den::DOUBLE AS t_dist,
         |  tv_num::DOUBLE / tv_den::DOUBLE > $AnonT AS at_risk
         |FROM (
         |  SELECT source, len_bucket,
         |    any_value(n_g)::BIGINT AS n_docs,
         |    sum(term)::BIGINT AS tv_num,
         |    (2::HUGEINT * any_value(n_g) * any_value(n))::BIGINT
         |      AS tv_den
         |  FROM t GROUP BY 1, 2)""".stripMargin,
    "llm_k_anonymity" ->
      s"""SELECT lang, source, len_bucket, n_docs,
         |  n_docs < $AnonK AS at_risk
         |FROM (
         |  SELECT lang, source,
         |    len(string_split(text, ' '))::BIGINT
         |      // $AnonLenBucket * $AnonLenBucket AS len_bucket,
         |    count(*)::BIGINT AS n_docs
         |  FROM documents
         |  GROUP BY 1, 2, 3)""".stripMargin,
    "llm_curriculum" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' '))::BIGINT AS n_tokens,
         |    least(floor(
         |        (len(list_distinct(string_split(text, ' ')))::DOUBLE
         |         / len(string_split(text, ' '))::DOUBLE)
         |        * $CurriculumBuckets)::BIGINT,
         |      ${CurriculumBuckets - 1}) AS bucket
         |  FROM documents),
         |b AS (SELECT bucket, sum(n_tokens)::BIGINT AS t
         |      FROM base GROUP BY bucket),
         |s AS (SELECT bucket,
         |        coalesce(sum(t) OVER (ORDER BY bucket
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0)::BIGINT AS cum_prev,
         |        (sum(t) OVER ())::BIGINT AS total
         |      FROM b),
         |st AS (SELECT bucket,
         |        (CASE WHEN cum_prev * 5 >= total * 4 THEN 2
         |              WHEN cum_prev * 2 >= total THEN 1
         |              ELSE 0 END)::BIGINT AS stage
         |      FROM s)
         |SELECT doc_id, bucket, n_tokens, stage
         |FROM base JOIN st USING (bucket)""".stripMargin,
    "llm_pipeline_incremental" -> pipelineIncrementalOracleSql,
    "llm_quality_eval" -> qualityEvalOracleSql,
    "llm_bpe_drift" -> bpeDriftOracleSql,
    "llm_profile" -> profileOracleSql,
    "llm_dq_checks" ->
      s"""WITH d AS (
         |  SELECT count(*)::BIGINT AS n,
         |    sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0
         |      END)::BIGINT AS bc,
         |    (count(*) - count(DISTINCT doc_id))::BIGINT AS bu,
         |    sum(CASE WHEN lang IS NULL OR lang NOT IN
         |      (${DqLangs.map(l => s"'$l'").mkString(", ")})
         |      THEN 1 ELSE 0 END)::BIGINT AS bl
         |  FROM documents),
         |li AS (
         |  SELECT count(*)::BIGINT AS n,
         |    (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))
         |      ::BIGINT AS bu,
         |    sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0e0
         |      OR l_discount > 0.1e0 THEN 1 ELSE 0 END)::BIGINT AS br
         |  FROM lineitem),
         |fk AS (
         |  SELECT count(*)::BIGINT AS n,
         |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0
         |      END)::BIGINT AS b
         |  FROM orders o LEFT JOIN
         |    (SELECT DISTINCT c_custkey FROM customer) c
         |    ON o.o_custkey = c.c_custkey),
         |e AS (
         |  SELECT count(*)::BIGINT AS n,
         |    sum(CASE WHEN value IS NULL OR value < 0.0e0 THEN 1
         |      ELSE 0 END)::BIGINT AS b
         |  FROM events),
         |checks AS (
         |  SELECT 'documents.text complete' AS "check", n,
         |    bc AS n_bad FROM d
         |  UNION ALL SELECT 'documents.doc_id unique', n, bu FROM d
         |  UNION ALL SELECT 'documents.lang whitelisted', n, bl FROM d
         |  UNION ALL
         |    SELECT 'lineitem.(l_orderkey,l_linenumber) unique', n, bu
         |    FROM li
         |  UNION ALL SELECT 'lineitem.l_discount in [0,0.1]', n, br
         |    FROM li
         |  UNION ALL
         |    SELECT 'orders.o_custkey references customer', n, b
         |    FROM fk
         |  UNION ALL SELECT 'events.value non-negative', n, b FROM e)
         |SELECT "check", n AS n_rows, n_bad,
         |  (n - n_bad)::DOUBLE / n::DOUBLE AS metric,
         |  (n_bad = 0) AS passed
         |FROM checks""".stripMargin,
    // sums cast ::BIGINT (DuckDB widens SUM(INT) to HUGEINT)
    "llm_gate_report" -> gateReportOracleSql,
    // every section of the card is a replayed constituent: the gate
    // rates nest the FULL gate-report oracle (minhash + contamination
    // included), the quantiles are quantile_disc per the
    // llm_quantile_sketch precedent, and volumes/shares are exact
    // integer aggregates divided once
    "llm_corpus_card" ->
      s"""WITH base AS (
         |  SELECT lang, source,
         |    len(string_split(text, ' '))::BIGINT AS n_tok
         |  FROM documents),
         |volagg AS (
         |  SELECT count(*)::DOUBLE AS nd, sum(n_tok)::DOUBLE AS nt,
         |    count(DISTINCT source)::DOUBLE AS ns,
         |    count(DISTINCT lang)::DOUBLE AS nl
         |  FROM base),
         |vol AS (
         |  SELECT 'volume' AS section,
         |    unnest(['n_docs', 'n_tokens', 'n_sources', 'n_langs'])
         |      AS metric,
         |    unnest([nd, nt, ns, nl]) AS value
         |  FROM volagg),
         |langs AS (
         |  SELECT 'lang_share' AS section, lang AS metric,
         |    sum(n_tok)::DOUBLE / (SELECT sum(n_tok)::DOUBLE FROM base)
         |      AS value
         |  FROM base GROUP BY lang),
         |gagg AS (
         |  SELECT sum(n_docs)::DOUBLE AS nd, sum(n_quality)::DOUBLE AS nq,
         |    sum(n_rep)::DOUBLE AS nr, sum(n_badwords)::DOUBLE AS nb,
         |    sum(n_en)::DOUBLE AS ne, sum(n_clean)::DOUBLE AS nc,
         |    sum(n_unique)::DOUBLE AS nu, sum(n_corpus)::DOUBLE AS nk
         |  FROM ($gateReportOracleSql) gr),
         |grates AS (
         |  SELECT 'gate_rate' AS section,
         |    unnest(['quality', 'repetition', 'badwords', 'english',
         |      'decontaminated', 'unique', 'corpus']) AS metric,
         |    unnest([nq / nd, nr / nd, nb / nd, ne / nd, nc / nd,
         |      nu / nd, nk / nd]) AS value
         |  FROM gagg),
         |quant AS (
         |  SELECT 'len_quantile' AS section,
         |    unnest(['0.25', '0.5', '0.75', '0.95']) AS metric,
         |    unnest([quantile_disc(n_tok::DOUBLE, 0.25),
         |      quantile_disc(n_tok::DOUBLE, 0.5),
         |      quantile_disc(n_tok::DOUBLE, 0.75),
         |      quantile_disc(n_tok::DOUBLE, 0.95)]) AS value
         |  FROM base)
         |SELECT * FROM vol UNION ALL SELECT * FROM langs
         |UNION ALL SELECT * FROM grates
         |UNION ALL SELECT * FROM quant""".stripMargin,
    // the report's CTEs, un-aggregated: one row per doc, CASE priority
    // chain for the first failing gate
    "llm_curate_audit" ->
      s"""WITH q AS (SELECT doc_id, quality_pass
         |           FROM (${TextOps.oracle("llm_quality_score")})),
         |rep AS (SELECT doc_id, rep_pass
         |        FROM (${TextOps.oracle("llm_rep_ngrams")})),
         |bad AS (SELECT doc_id, badwords_pass
         |        FROM (${TextOps.oracle("llm_badwords")})),
         |en AS (SELECT doc_id, lang_pred = 'en' AS is_en
         |       FROM (${TextOps.oracle("llm_lang_id")})),
         |cl AS (SELECT doc_id, NOT contaminated AS clean0
         |       FROM (${Contamination.oracle("llm_decontaminate")})),
         |dup AS (SELECT DISTINCT doc_b AS doc_id
         |        FROM (${Dedup.oracle("llm_dedup_minhash")}))
         |SELECT d.doc_id, d.source, quality_pass, rep_pass,
         |  badwords_pass, is_en,
         |  coalesce(clean0, false) AS clean,
         |  dup.doc_id IS NULL AS is_unique,
         |  quality_pass AND rep_pass AND badwords_pass AND is_en
         |    AND coalesce(clean0, false) AND dup.doc_id IS NULL AS kept,
         |  CASE WHEN NOT quality_pass THEN 'quality'
         |       WHEN NOT rep_pass THEN 'repetition'
         |       WHEN NOT badwords_pass THEN 'badwords'
         |       WHEN NOT is_en THEN 'language'
         |       WHEN NOT coalesce(clean0, false) THEN 'contamination'
         |       WHEN dup.doc_id IS NOT NULL THEN 'duplicate'
         |       ELSE 'none' END AS first_fail
         |FROM documents d
         |JOIN q USING (doc_id) JOIN rep USING (doc_id)
         |JOIN bad USING (doc_id) JOIN en USING (doc_id)
         |LEFT JOIN cl USING (doc_id)
         |LEFT JOIN dup ON d.doc_id = dup.doc_id""".stripMargin,
    "llm_chunk" -> chunkSql,
    // the two-level prefix sum must equal ONE global ordered window
    "llm_pack_chunks" -> packChunksOracleSql,
    "llm_pack_offsets" -> packOffsetsOracleSql,
    // list(... ORDER BY doc_id/shard) inside the aggregate = the Spark
    // side's array_sort(collect_list(struct(...))) key order
    "llm_dataset_hash" ->
      s"""WITH perdoc AS (
         |  SELECT doc_id // $HashShard AS shard, doc_id,
         |    md5(doc_id::VARCHAR || ':' || text) AS h
         |  FROM documents),
         |shards AS (
         |  SELECT shard, count(*)::BIGINT AS n_docs,
         |    md5(string_agg(h, '' ORDER BY doc_id)) AS digest
         |  FROM perdoc GROUP BY shard),
         |corpus AS (
         |  SELECT -1::BIGINT AS shard, sum(n_docs)::BIGINT AS n_docs,
         |    md5(string_agg(digest, '' ORDER BY shard)) AS digest
         |  FROM shards)
         |SELECT shard, n_docs, digest FROM shards
         |UNION ALL SELECT * FROM corpus""".stripMargin,
    // τ = 2 temperature mixing: exponent = sqrt (correctly rounded in
    // both engines); the |langs|-term normalizer folds left in lang
    // order, 0.0-seeded — the caption-score fold convention
    "llm_mix_temperature" ->
      s"""WITH pl AS (
         |  SELECT lang,
         |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
         |  FROM documents GROUP BY lang),
         |t AS (SELECT sum(n_tokens)::BIGINT AS tot FROM pl),
         |sh AS (
         |  SELECT lang, n_tokens,
         |    n_tokens::DOUBLE / tot::DOUBLE AS share,
         |    sqrt(n_tokens::DOUBLE / tot::DOUBLE) AS s
         |  FROM pl, t),
         |d AS (
         |  SELECT list_reduce(list_prepend(0.0e0,
         |    list(s ORDER BY lang)), (a, b) -> a + b) AS denom
         |  FROM sh)
         |SELECT lang, n_tokens, share,
         |  s / denom AS temp_weight,
         |  (s / denom) / share AS boost
         |FROM sh, d""".stripMargin,
    "llm_shard_stats" ->
      s"""SELECT shard, count(*) AS n_chunks,
         |  sum(n_tokens)::BIGINT AS n_tokens,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM ($packChunksOracleSql)
         |GROUP BY shard""".stripMargin,
    // ValCut is interpolated as the exact double 0.9 + 0.05 evaluates
    // to (one ulp above the literal 0.95) so both engines threshold u
    // on identical bits
    "llm_split" -> splitOracleSql,
    "llm_split_grouped" ->
      s"""WITH cl AS (${Dedup.oracle("llm_dedup_clusters")})
         |SELECT doc_id, group_key,
         |  CASE WHEN u < $TrainFrac THEN 'train'
         |       WHEN u < $ValCut THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (
         |  SELECT doc_id, group_key,
         |    ${graft.functions.Md5Uniform
        .sql(s"'$SplitSalt' || group_key::VARCHAR")} AS u
         |  FROM (
         |    SELECT d.doc_id,
         |      coalesce(cl.cluster_id, d.doc_id) AS group_key
         |    FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id))"""
        .stripMargin,
    "llm_diff" ->
      s"""WITH old AS (SELECT doc_id, md5(text) AS h_old FROM documents),
         |changed AS (SELECT doc_id,
         |    md5(array_to_string(list_reverse(string_split(text, ' ')),
         |      ' ')) AS h_new
         |  FROM documents WHERE doc_id % $UpsertMod = 0),
         |kept AS (SELECT doc_id, md5(text) AS h_new FROM documents
         |         WHERE doc_id % $UpsertMod != 0),
         |added AS (SELECT doc_id + $DiffAddOffset AS doc_id,
         |    md5(text) AS h_new
         |  FROM documents WHERE doc_id % $DiffAddMod = 0),
         |nxt AS (SELECT * FROM (SELECT * FROM kept UNION ALL
         |          SELECT * FROM changed UNION ALL SELECT * FROM added)
         |        WHERE doc_id % $DiffDropMod != 0)
         |SELECT coalesce(old.doc_id, nxt.doc_id) AS doc_id,
         |  CASE WHEN old.doc_id IS NULL THEN 'added'
         |       WHEN nxt.doc_id IS NULL THEN 'removed'
         |       WHEN h_old = h_new THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |FROM old FULL OUTER JOIN nxt ON old.doc_id = nxt.doc_id"""
        .stripMargin,
    // the curate subquery restricts WHICH rows get assigned and capped;
    // the quantizer CTEs still train on the full corpus (the
    // the same quadratic dominance definition as rel_skyline, on the
    // exact integer document metrics
    "llm_doc_pareto" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (len(string_split(text, ' '))
        |     - len(list_distinct(string_split(text, ' '))))::BIGINT
        |      AS redundancy,
        |    len(list_distinct(string_split(text, ' ')))::BIGINT
        |      AS n_distinct
        |  FROM documents)
        |SELECT a.doc_id, a.redundancy, a.n_distinct
        |FROM m a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m o
        |  WHERE o.redundancy <= a.redundancy
        |    AND o.n_distinct >= a.n_distinct
        |    AND (o.redundancy < a.redundancy
        |      OR o.n_distinct > a.n_distinct))""".stripMargin,
    // the greedy max-coverage trajectory unrolled: per step one
    // anti-joined gain aggregate, one LIMIT-1 argmax, one covered-set
    // union — the engine's driver loop replayed as K CTE rounds
    "llm_curate_coverage" -> {
      val steps = (1 to CovSelectK).map { i =>
        val anti = if (i == 1) ""
          else s"  WHERE NOT EXISTS (SELECT 1 FROM c${i - 1} x" +
            s" WHERE x.term = incu.term)\n"
        val carry = if (i == 1) ""
          else s"SELECT term FROM c${i - 1}\n  UNION\n  "
        s"""g$i AS (
           |  SELECT doc_id, count(*)::BIGINT AS gain FROM incu
           |$anti  GROUP BY 1),
           |p$i AS MATERIALIZED (
           |  SELECT doc_id, gain FROM g$i
           |  ORDER BY gain DESC, doc_id LIMIT 1),
           |c$i AS MATERIALIZED (
           |  ${carry}SELECT i.term FROM incu i JOIN p$i USING (doc_id))"""
          .stripMargin
      }.mkString(",\n")
      val out = (1 to CovSelectK).map { i =>
        s"""SELECT $i::BIGINT AS step, doc_id, gain,
           |  (SELECT count(*) FROM c$i)::BIGINT AS covered
           |FROM p$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |inc AS (
         |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS term
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
         |        FROM tok)),
         |u AS (
         |  SELECT term FROM (
         |    SELECT term, count(*)::BIGINT AS df FROM inc GROUP BY 1)
         |  ORDER BY df ASC, term LIMIT $CovUniverse),
         |incu AS MATERIALIZED (
         |  SELECT i.doc_id, i.term FROM inc i JOIN u USING (term)),
         |$steps
         |$out""".stripMargin
    },
    // sampleClusterFor contract)
    "llm_curate_diverse" ->
      s"""SELECT vec_id AS doc_id, cid, cluster_n, rk
         |FROM (${Similarity.sampleClusterOracleSql(
               s"ck AS ($curateSql),\n",
               "SELECT v.* FROM v JOIN ck ON v.vec_id = ck.doc_id")}) z"""
        .stripMargin,
    // one aggregate row per snapshot over the SHARED quality-signal and
    // next-crawl spellings; ratio means via the DECIMAL-stable dsum
    "llm_quality_drift" -> {
      def side(tag: String, q: String) =
        s"""SELECT '$tag' AS snapshot, count(*)::BIGINT AS n_docs,
           |  sum(CASE WHEN quality_pass THEN 1 ELSE 0 END)::BIGINT
           |    AS n_pass,
           |  sum(CASE WHEN quality_pass THEN 1 ELSE 0 END)::BIGINT::DOUBLE
           |    / count(*)::DOUBLE AS pass_rate,
           |  sum(n_tokens::BIGINT)::BIGINT::DOUBLE / count(*)::DOUBLE
           |    AS mean_tokens,
           |  ${graft.functions.StableSum.dsumSql("distinct_ratio")}
           |    / count(*)::DOUBLE AS mean_distinct_ratio,
           |  ${graft.functions.StableSum.dsumSql("stopword_ratio")}
           |    / count(*)::DOUBLE AS mean_stopword_ratio
           |FROM ($q)""".stripMargin
      s"""WITH nxt AS (
         |  $nextSnapshotSelectSql)
         |${side("current", TextOps.qualityScoreSql("documents"))}
         |UNION ALL
         |${side("next", TextOps.qualityScoreSql("nxt"))}""".stripMargin
    },
    "llm_upsert" ->
      s"""WITH snap AS (SELECT doc_id, 0::BIGINT AS version, text
         |             FROM documents),
         |b AS (SELECT doc_id, 1::BIGINT AS version,
         |        array_to_string(list_reverse(string_split(text, ' ')), ' ')
         |          AS text
         |      FROM documents WHERE doc_id % $UpsertMod = 0),
         |u AS (SELECT * FROM snap UNION ALL SELECT * FROM b)
         |SELECT doc_id, version, text FROM (
         |  SELECT doc_id, version, text,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY version DESC, text DESC) AS rk
         |  FROM u)
         |WHERE rk = 1""".stripMargin,
    "llm_sample_stratified" ->
      s"""SELECT doc_id, lang, $uSql AS u
         |FROM documents
         |WHERE $uSql < $rateSql""".stripMargin,
    "llm_sample_topn" ->
      s"""SELECT doc_id, lang, rk FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $TopNPerLang""".stripMargin,
    // sums cast back down from DuckDB's HUGEINT widening before any
    // division so the column types (and hashes) match Spark's BIGINT
    "llm_mix_apply" -> mixApplyOracleSql,
    // SUM(BIGINT) widens to HUGEINT in DuckDB — cast the token total
    "llm_mix_check" ->
      s"""WITH ma AS ($mixApplyOracleSql)
         |SELECT d.lang, count(*)::BIGINT AS n_docs,
         |  sum(len(string_split(d.text, ' '))::BIGINT)::BIGINT AS n_tokens
         |FROM documents d JOIN ma ON d.doc_id = ma.doc_id
         |GROUP BY 1""".stripMargin,
    "llm_mix_weights" -> mixWeightsOracleSql,
    "llm_mix_waterfill" ->
      s"""WITH $waterfillCtes
         |SELECT source, c AS n_tokens, allot, capped,
         |  allot::DOUBLE / c::DOUBLE AS keep_frac
         |FROM alloc""".stripMargin,
    "llm_curate_budget" ->
      s"""WITH $waterfillCtes,
         |sc AS (
         |  SELECT doc_id, source,
         |    len(string_split(text, ' '))::BIGINT AS n_tok,
         |    len(list_distinct(string_split(text, ' ')))::DOUBLE
         |      / len(string_split(text, ' '))::DOUBLE AS prio
         |  FROM documents),
         |cum AS (
         |  SELECT *, (sum(n_tok) OVER (PARTITION BY source
         |    ORDER BY prio DESC, doc_id
         |    ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
         |  FROM sc),
         |kept AS (
         |  SELECT cum.source, cum.n_tok, cum.cum
         |  FROM cum JOIN alloc ON alloc.source = cum.source
         |  WHERE cum.cum <= alloc.allot),
         |ks AS (
         |  SELECT source, count(*)::BIGINT AS n_docs_kept,
         |    max(cum)::BIGINT AS tokens_kept
         |  FROM kept GROUP BY 1)
         |SELECT alloc.source,
         |  coalesce(ks.n_docs_kept, 0)::BIGINT AS n_docs_kept,
         |  coalesce(ks.tokens_kept, 0)::BIGINT AS tokens_kept,
         |  alloc.allot,
         |  CASE WHEN alloc.allot = 0 THEN 0.0e0
         |    ELSE coalesce(ks.tokens_kept, 0)::DOUBLE
         |      / alloc.allot::DOUBLE END AS utilization
         |FROM alloc LEFT JOIN ks ON ks.source = alloc.source"""
        .stripMargin,
    // the epoch formula's op order (mul, then div) matches the Column
    // side exactly; 4.0 and the budget are explicit DOUBLEs so DuckDB
    // does not route the comparison through DECIMAL
    "llm_mix_epochs" ->
      s"""WITH w AS ($mixWeightsOracleSql),
         |tot AS (SELECT sum(n_tokens)::BIGINT AS tot FROM w)
         |SELECT lang, n_docs, n_tokens, mix_weight,
         |  least($MaxEpochs::DOUBLE,
         |    (mix_weight * (tot * $EpochBudgetMult)::DOUBLE)
         |      / n_tokens::DOUBLE) AS epochs,
         |  least($MaxEpochs::DOUBLE,
         |    (mix_weight * (tot * $EpochBudgetMult)::DOUBLE)
         |      / n_tokens::DOUBLE) * n_tokens::DOUBLE AS planned_tokens
         |FROM w, tot""".stripMargin,
    "llm_mix_upsample" -> {
      val u = graft.functions.Md5Uniform.sql("doc_id::VARCHAR || ':ups'")
      s"""WITH w AS ($mixWeightsOracleSql),
         |tot AS (SELECT sum(n_tokens)::BIGINT AS tot FROM w),
         |sched AS (
         |  SELECT lang,
         |    least($MaxEpochs::DOUBLE,
         |      (mix_weight * (tot * $EpochBudgetMult)::DOUBLE)
         |        / n_tokens::DOUBLE) AS epochs
         |  FROM w, tot),
         |copies AS (
         |  SELECT doc_id, lang,
         |    floor(epochs)::BIGINT
         |      + CASE WHEN $u < epochs - floor(epochs)
         |        THEN 1 ELSE 0 END AS n
         |  FROM documents JOIN sched USING (lang))
         |SELECT doc_id, lang,
         |  unnest(generate_series(1::BIGINT, n)) AS epoch
         |FROM copies WHERE n >= 1""".stripMargin
    },
    // the oracle uses the straightforward single global window (the
    // llm_pack_shards precedent); the two-level Spark plan must
    // reproduce its integers exactly
    "llm_sample_pps" ->
      s"""WITH base AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
         |  FROM documents),
         |tot AS (
         |  SELECT greatest(1, sum(n_tokens) // $PpsTarget)::BIGINT
         |    AS stride FROM base),
         |cum AS (
         |  SELECT doc_id, n_tokens,
         |    (SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
         |      AS cum
         |  FROM base)
         |SELECT doc_id, n_tokens,
         |  (cum // stride - (cum - n_tokens) // stride)::BIGINT AS n_picks
         |FROM cum, tot
         |WHERE cum // stride > (cum - n_tokens) // stride""".stripMargin,
    // the oracle uses the straightforward single global window — the
    // two-level Spark plan must reproduce it exactly. DuckDB widens
    // SUM(BIGINT) OVER to HUGEINT (INT128), which the strict schema/hash
    // gate would see as a different column type than Spark's BIGINT, so
    // the window sum is cast back down before the shard arithmetic.
    "llm_pack_shards" ->
      s"""SELECT doc_id,
         |  len(string_split(text, ' '))::BIGINT AS n_tokens,
         |  ((SUM(len(string_split(text, ' '))::BIGINT) OVER
         |      (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |       CURRENT ROW))::BIGINT
         |   - len(string_split(text, ' '))::BIGINT) // $ShardBudget
         |    AS shard
         |FROM documents""".stripMargin,
    "llm_curate_strict" -> curateStrictSql,
    // the learned gate: the probe's replayed-training oracle (nested
    // WITH, MATERIALIZED CTEs — the llm_sim_recall pattern) composed
    // with the lang + dedup subqueries exactly as `llm_curate` does
    "llm_curate_learned" ->
      s"""WITH pk AS (SELECT doc_id, score
         |           FROM (${Quality.oracle("llm_quality_gate")})),
         |l AS (SELECT doc_id FROM (${TextOps.oracle("llm_lang_id")})
         |      WHERE lang_pred = 'en'),
         |dup AS (SELECT DISTINCT doc_b AS doc_id
         |        FROM (${Dedup.oracle("llm_dedup_minhash")}))
         |SELECT doc_id, score FROM pk
         |JOIN l USING (doc_id)
         |WHERE doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin,
    // the pipeline oracle composes the strict gate, the chunker, and
    // the single-global-window packing the two-level Spark plan must
    // reproduce exactly
    "llm_pipeline_tokens" ->
      s"""WITH kept AS ($curateStrictSql),
         |tr AS (SELECT doc_id FROM ($splitOracleSql)
         |       WHERE split = 'train'),
         |d2 AS (SELECT d.doc_id, d.text
         |       FROM documents d
         |       JOIN kept USING (doc_id) JOIN tr USING (doc_id)),
         |ch AS (${chunkSqlFrom("d2")}),
         |pk AS (SELECT doc_id, chunk_id,
         |        ((SUM(n_tokens) OVER (ORDER BY doc_id, chunk_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            ::BIGINT
         |          - n_tokens) // $ShardBudget)::BIGINT AS shard
         |       FROM ch),
         |tokc AS (SELECT doc_id, chunk_id,
         |           string_split(chunk_text, ' ') AS t FROM ch),
         |cnt AS (SELECT tok, count(*) AS cnt
         |        FROM (SELECT unnest(t) AS tok FROM tokc) GROUP BY tok),
         |vocab AS (SELECT tok,
         |    (row_number() OVER (ORDER BY cnt DESC, tok) - 1)::BIGINT
         |      AS tok_id
         |  FROM cnt ORDER BY cnt DESC, tok LIMIT ${TextOps.EncodeVocab}),
         |ex AS (SELECT doc_id, chunk_id, unnest(t) AS tok,
         |         unnest(range(len(t))) AS pos FROM tokc),
         |j AS (SELECT e.doc_id, e.chunk_id, e.pos,
         |        coalesce(v.tok_id, ${TextOps.OovId}) AS tid,
         |        CASE WHEN v.tok_id IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM ex e LEFT JOIN vocab v ON e.tok = v.tok),
         |enc AS (SELECT doc_id, chunk_id, count(*)::BIGINT AS n_tokens,
         |          sum(oov)::BIGINT AS n_oov,
         |          array_to_string(list(tid ORDER BY pos), ',') AS ids_csv
         |        FROM j GROUP BY doc_id, chunk_id)
         |SELECT pk.doc_id, pk.chunk_id, pk.shard,
         |  enc.n_tokens, enc.n_oov, enc.ids_csv
         |FROM pk JOIN enc USING (doc_id, chunk_id)""".stripMargin,
    "llm_pipeline_e2e" ->
      s"""WITH kept AS ($curateStrictSql),
         |d2 AS (SELECT d.doc_id, d.text
         |       FROM documents d JOIN kept USING (doc_id)),
         |ch AS (${chunkSqlFrom("d2")})
         |SELECT doc_id, chunk_id, n_tokens::BIGINT AS n_tokens,
         |  ((SUM(n_tokens) OVER (ORDER BY doc_id, chunk_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |    - n_tokens) // $ShardBudget)::BIGINT AS shard
         |FROM ch""".stripMargin,
    "llm_curate" -> curateSql
  )
}

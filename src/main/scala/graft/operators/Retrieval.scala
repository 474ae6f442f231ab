package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Lexical retrieval over the document corpus: the inverted index,
  * BM25 and Dirichlet query-likelihood ranking, reciprocal-rank fusion
  * of the two, and pseudo-relevance-feedback query expansion (additive
  * §2.11 — the inverted index is THE canonical MapReduce workload the
  * reference's wordcount mapper is one half of,
  * apriori/apriori_final.java:49-62; BM25 is Robertson & Walker's Okapi
  * weighting, SIGIR '94; Dirichlet smoothing is Zhai & Lafferty, SIGIR
  * '01; RRF is Cormack, Clarke & Büttcher, SIGIR '09).
  *
  * Spark-first shape: the term-frequency table (doc_id, word, tf) is
  * ONE explode + ONE map-side-combined groupBy of the corpus scan —
  * the same shape as `llm_word_count` keyed by (doc, word) instead of
  * word. Everything downstream is bounded: posting heads are one row
  * per vocabulary term, query-term selection ranks the ≤ |V|-row
  * vocabulary, and the 1-row corpus stats and the ≤ [[BmQueryN]]-row
  * query list ride broadcast joins. No corpus-scale sort anywhere: the
  * per-term top-k is a partitioned window over the posting lists of
  * the probed terms only, the fusion join touches two ≤ q·[[FuseDepth]]
  * rank lists, and expansion candidates come from q·[[BmTopK]] feedback
  * documents.
  *
  * Determinism (the DuckDB hash gate): counts are exact integers; each
  * score is a fixed tree of exactly-rounded IEEE ops (+ × ÷) on values
  * < 2^53 with NO transcendentals — BM25's `ln` idf is replaced by its
  * rational argument (N − df + ½)/(df + ½), query likelihood keeps the
  * Dirichlet posterior as ONE division of two exact integers
  * (tf·C + μ·cf) / ((dl + μ)·C), and an RRF score is the sum of exactly
  * two correctly-rounded divisions — strictly monotone surrogates, so
  * rankings are the textbook ones and both engines land on
  * bit-identical doubles (the [[Dsir]] rationale; ties break on
  * doc_id).
  */
object Retrieval {

  /** BM25 shape parameters (the textbook defaults): k1 saturates tf,
    * b dials length normalization. Spelled as the exact doubles the
    * oracle SQL literals parse to.
    */
  val BmK1 = 1.2
  val BmB = 0.75

  /** Query terms = vocabulary frequency ranks [[BmRankLo]]..[[BmRankHi]]
    * (by corpus count desc, term asc): mid-head terms, chosen FROM the
    * corpus itself so the entry is self-contained and scale-free.
    */
  val BmRankLo = 5L
  val BmRankHi = 9L

  /** Query count (for doc-comments and specs). */
  val BmQueryN: Long = BmRankHi - BmRankLo + 1

  /** Documents returned per query term. */
  val BmTopK = 5

  /** Dirichlet smoothing mass μ (the textbook default 2000): a doc's
    * term estimate is (tf + μ·p(t|C)) / (dl + μ). Kept exact by
    * cross-multiplying with the corpus token count C — the spelling is
    * (tf·C + μ·cf) / ((dl + μ)·C), exact in BIGINT while tf·C < 2^63
    * (any fixture scale; a true 100 TB corpus flips to the two-division
    * float spelling and accepts last-ulp rank jitter).
    */
  val QlMu = 2000L

  /** Per-system list depth feeding the fusion (the standard RRF setup
    * fuses deeper lists than it returns).
    */
  val FuseDepth = 20

  /** RRF discount constant k (Cormack et al.'s 60). */
  val RrfK = 60L

  /** Fused documents returned per query term. */
  val FuseTopK = 10

  /** Expansion terms returned per query term. */
  val PrfTerms = 5

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select("doc_id", "text")

  /** (doc_id, word, tf): the posting-list table. */
  def tfOf(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))

  /** Session-lifetime retrieval index per (session, dir) — the
    * [[Dedup]] `cachedIdx` discipline applied to THE persistent
    * artifact of a retrieval stack (a deployment builds its inverted
    * index once and serves every query from it; it does not
    * re-tokenize the corpus per query): the (doc_id, word, tf)
    * posting table and the (doc_id, dl) length table. Before r12 the
    * eleven fixture entries re-derived `tf` per invocation —
    * `llm_eval_rankers` alone built it five times per call (qrels +
    * two scorers + the fusion's two). The `…Of` forms stay cache-free
    * (arbitrary corpora).
    */
  private val idxCache =
    new graft.SessionCache[DataFrame](graft.Materialize.release)

  private def tfIdx(spark: SparkSession, dir: String): DataFrame =
    idxCache.getOrBuild(spark, dir, "tf")(
      graft.Materialize.session(spark)(tfOf(docs(spark, dir))))

  private def dlIdx(spark: SparkSession, dir: String): DataFrame =
    idxCache.getOrBuild(spark, dir, "dl")(
      graft.Materialize.session(spark)(dlOf(docs(spark, dir))))

  /** Inverted-index posting heads: one row per term with its document
    * frequency, corpus frequency, and the strongest posting (max tf,
    * ties to the smaller doc_id). Output is |V| rows whatever the
    * corpus size; the window partitions by term, never globally.
    */
  def postings(spark: SparkSession, dir: String): DataFrame =
    postingsFrom(tfIdx(spark, dir))

  def postingsOf(corpus: DataFrame): DataFrame =
    postingsFrom(tfOf(corpus))

  private def postingsFrom(tf: DataFrame): DataFrame = {
    val w = Window.partitionBy("word")
    tf
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("cf", sum(col("tf")).over(w))
      .withColumn("rk", row_number().over(
        w.orderBy(col("tf").desc, col("doc_id"))))
      .where(col("rk") === 1)
      .select(col("word"), col("df"), col("cf"),
        col("doc_id").as("top_doc_id"), col("tf").as("top_tf"))
  }

  /** Vocabulary ranking (word, df, cf, vrk) by corpus frequency desc,
    * term asc. The window is UNPARTITIONED, so every caller must apply
    * an upper-bounded rank cut (`vrk <= k` / `vrk < k`) directly above
    * it — that makes the window WindowGroupLimit-eligible (≤ k rows per
    * input partition reach the single-partition ranking) instead of
    * serializing |V| rows through one task. Guarded by the
    * WindowBoundSpec lint.
    */
  private def vocabRankedOf(tf: DataFrame): DataFrame =
    tf.groupBy("word")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .withColumn("vrk", row_number().over(
        Window.orderBy(col("cf").desc, col("word"))).cast("long"))

  /** The probed query terms (word, df, cf): vocabulary ranks
    * [[BmRankLo]]..[[BmRankHi]] by corpus frequency. ≤ |V| rows ranked,
    * [[BmQueryN]] rows out — always a broadcast side.
    */
  private def queryTermsOf(tf: DataFrame): DataFrame =
    vocabRankedOf(tf)
      .where(col("vrk") >= BmRankLo && col("vrk") <= BmRankHi)
      .select(col("word"), col("df"), col("cf"))

  /** (doc_id, dl): document lengths in whitespace tokens. */
  private def dlOf(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))

  /** Full BM25 ranking per query term (no top-k cut):
    * (word, doc_id, tf, dl, df, score, rk).
    */
  private def bm25ScoredOf(corpus: DataFrame): DataFrame =
    bm25ScoredFrom(tfOf(corpus), dlOf(corpus))

  private def bm25ScoredFrom(tf: DataFrame, dl: DataFrame): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl").cast("double")
        / col("n_docs").cast("double")).as("avgdl"))
    val idf = (col("n_docs") - col("df") + lit(0.5))
      ./(col("df") + lit(0.5))
    val sat = (col("tf") * lit(BmK1 + 1.0))
      ./(col("tf") + lit(BmK1)
        * (lit(1.0 - BmB) + lit(BmB) * (col("dl") / col("avgdl"))))
    tf.join(broadcast(queryTermsOf(tf).drop("cf")), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("word"), col("doc_id"), col("tf"), col("dl"),
        col("df"), (idf * sat).as("score"))
      .withColumn("rk", row_number().over(Window.partitionBy("word")
        .orderBy(col("score").desc, col("doc_id"))).cast("long"))
  }

  /** BM25 top-[[BmTopK]] per query term:
    * (word, doc_id, tf, dl, df, score, rk).
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25ScoredFrom(tfIdx(spark, dir), dlIdx(spark, dir))
      .where(col("rk") <= BmTopK)

  def bm25TopKOf(corpus: DataFrame): DataFrame =
    bm25ScoredOf(corpus).where(col("rk") <= BmTopK)

  /** Full Dirichlet query-likelihood ranking per query term (no top-k
    * cut): (word, doc_id, tf, dl, cf, score, rk). Candidates are the
    * term's posting list (docs that contain it), the standard
    * inverted-index evaluation — the smoothing term alone never
    * promotes a non-matching document into a single-term ranking.
    */
  private def qlScoredOf(corpus: DataFrame): DataFrame =
    qlScoredFrom(tfOf(corpus), dlOf(corpus))

  private def qlScoredFrom(tf: DataFrame, dl: DataFrame): DataFrame = {
    val tot = dl.agg(sum(col("dl")).as("c_tokens"))
    val num = col("tf") * col("c_tokens") + lit(QlMu) * col("cf")
    val den = (col("dl") + lit(QlMu)) * col("c_tokens")
    tf.join(broadcast(queryTermsOf(tf).drop("df")), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .select(col("word"), col("doc_id"), col("tf"), col("dl"),
        col("cf"),
        (num.cast("double") / den.cast("double")).as("score"))
      .withColumn("rk", row_number().over(Window.partitionBy("word")
        .orderBy(col("score").desc, col("doc_id"))).cast("long"))
  }

  /** Dirichlet query-likelihood top-[[BmTopK]] per query term:
    * (word, doc_id, tf, dl, cf, score, rk).
    */
  def qlTopK(spark: SparkSession, dir: String): DataFrame =
    qlScoredFrom(tfIdx(spark, dir), dlIdx(spark, dir))
      .where(col("rk") <= BmTopK)

  def qlTopKOf(corpus: DataFrame): DataFrame =
    qlScoredOf(corpus).where(col("rk") <= BmTopK)

  /** Reciprocal-rank fusion of the BM25 and query-likelihood rankings —
    * the standard way to combine retrieval systems without score
    * calibration (and THE pattern for fusing lexical with dense
    * retrieval): each system contributes 1/([[RrfK]] + rank) for the
    * documents in its top-[[FuseDepth]] list, absent docs contribute 0,
    * and the fused top-[[FuseTopK]] is ranked by the sum. The join
    * touches two ≤ queries·[[FuseDepth]]-row rank lists — nothing
    * corpus-scale moves. (word, doc_id, bm_rk, ql_rk, rrf, rk); bm_rk /
    * ql_rk are NULL for docs only the other system surfaced.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfFrom(tfIdx(spark, dir), dlIdx(spark, dir))

  def hybridRrfOf(corpus: DataFrame): DataFrame =
    hybridRrfFrom(tfOf(corpus), dlOf(corpus))

  private def hybridRrfFrom(tf: DataFrame, dl: DataFrame): DataFrame = {
    val bm = bm25ScoredFrom(tf, dl).where(col("rk") <= FuseDepth)
      .select(col("word"), col("doc_id"), col("rk").as("bm_rk"))
    val ql = qlScoredFrom(tf, dl).where(col("rk") <= FuseDepth)
      .select(col("word"), col("doc_id"), col("rk").as("ql_rk"))
    def part(rk: Column): Column =
      coalesce(lit(1.0) / (lit(RrfK) + rk).cast("double"), lit(0.0))
    bm.join(ql, Seq("word", "doc_id"), "full_outer")
      .select(col("word"), col("doc_id"), col("bm_rk"), col("ql_rk"),
        (part(col("bm_rk")) + part(col("ql_rk"))).as("rrf"))
      .withColumn("rk", row_number().over(Window.partitionBy("word")
        .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .where(col("rk") <= FuseTopK)
  }

  /** Pseudo-relevance-feedback query expansion (the RM3/Rocchio loop's
    * term-selection step): assume the BM25 top-[[BmTopK]] documents are
    * relevant, pool their terms, and rank candidates by total feedback
    * term frequency — excluding the query term itself and stopwords,
    * where "stopword" reuses the probe-window convention (vocabulary
    * rank above [[BmRankLo]], i.e. the corpus-frequency head the query
    * terms themselves were selected below — an exact integer cut, no
    * df-ratio float). The feedback set is queries·[[BmTopK]] rows and
    * broadcasts into the posting-list scan; candidate pooling is
    * bounded by the feedback documents' total length.
    * (qword, exp_word, sum_tf, df, rk).
    *
    * Scale shape: the stopword cut `vrk >= BmRankLo` must NOT be read
    * off a full-vocabulary rank — with no upper bound,
    * WindowGroupLimit can't prune it and |V| rows would serialize
    * through one task. Equivalent bounded form: materialize only the
    * HEAD the cut excludes (`vrk < BmRankLo` — an upper-bounded rank
    * cut, so the unpartitioned window is WindowGroupLimit-pruned to
    * [[BmRankLo]]−1 rows per input partition) and anti-join the
    * bounded candidate pool against that broadcast head; `df` comes
    * from a plain vocabulary aggregate with the bounded candidates
    * broadcast into it, so nothing vocabulary-scale ever crosses a
    * single-partition stage.
    */
  def queryExpansion(spark: SparkSession, dir: String): DataFrame =
    queryExpansionFrom(tfIdx(spark, dir), dlIdx(spark, dir))

  def queryExpansionOf(corpus: DataFrame): DataFrame =
    queryExpansionFrom(tfOf(corpus), dlOf(corpus))

  private def queryExpansionFrom(tf: DataFrame, dl: DataFrame)
      : DataFrame = {
    val fb = bm25ScoredFrom(tf, dl).where(col("rk") <= BmTopK)
      .select(col("word").as("qword"), col("doc_id"))
    val head = vocabRankedOf(tf).where(col("vrk") < BmRankLo)
      .select("word")
    val dfs = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val cand = fb.hint("broadcast")
      .join(tf, "doc_id")
      .groupBy(col("qword"), col("word"))
      .agg(sum(col("tf")).as("sum_tf"))
      .where(col("word") =!= col("qword"))
      .join(broadcast(head), Seq("word"), "left_anti")
    dfs.join(broadcast(cand), "word")
      .select(col("qword"), col("word").as("exp_word"),
        col("sum_tf"), col("df"))
      .withColumn("rk", row_number().over(Window.partitionBy("qword")
        .orderBy(col("sum_tf").desc, col("exp_word"))).cast("long"))
      .where(col("rk") <= PrfTerms)
  }

  /** Phrase-query count and docs returned per phrase. */
  val PhraseCount = 5
  val PhraseTopK = 5

  /** Exact phrase retrieval over a POSITIONAL index — the inverted-
    * index capability BM25's bag-of-words scoring cannot express
    * (Manning et al., IIR ch. 2: positional postings are the standard
    * production index for phrase and proximity queries). Phrase
    * queries are self-derived like the BM25 query terms: the
    * [[PhraseCount]] most frequent adjacent bigrams (ties on the
    * words). A document matches where word1 sits at position i and
    * word2 at i+1; phrase_tf counts the occurrences, and each phrase
    * returns its [[PhraseTopK]] docs by (phrase_tf desc, doc_id).
    *
    * Scale shape: the positional table explodes once; the phrase list
    * is a bounded TakeOrdered broadcast, so the first-word postings
    * filter through a broadcast join; the adjacency test is a pure
    * 3-key equi-join — (doc, pos+1, w2) against (doc, pos, word) —
    * hash-partitioned, never a per-doc array product; the per-phrase
    * rank is WindowGroupLimit-eligible (rk ≤ k cut).
    */
  def phrasePostings(spark: SparkSession, dir: String): DataFrame =
    phrasePostingsOf(docs(spark, dir))

  def phrasePostingsOf(corpus: DataFrame): DataFrame = {
    val pos = corpus.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    // adjacent-bigram counts straight off the positional table: the
    // same 3-key equi-join shape the phrase match uses below
    val bi = pos.as("x").join(pos.as("y"),
        col("x.doc_id") === col("y.doc_id")
          && col("y.pos") === col("x.pos") + 1)
      .groupBy(col("x.word").as("w1"), col("y.word").as("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .orderBy(col("c_xy").desc, col("w1"), col("w2"))
      .limit(PhraseCount)
      .select("w1", "w2")
    val a = broadcast(bi).join(pos, col("w1") === col("word"))
      .select(col("w1"), col("w2"), col("doc_id"),
        (col("pos") + 1).as("next_pos"))
    val m = a.join(pos.as("b"),
        a("doc_id") === col("b.doc_id")
          && col("next_pos") === col("b.pos")
          && a("w2") === col("b.word"))
      .groupBy(col("w1"), col("w2"), a("doc_id").as("doc_id"))
      .agg(count(lit(1)).as("phrase_tf"))
    m.withColumn("rk", row_number().over(
        Window.partitionBy("w1", "w2")
          .orderBy(col("phrase_tf").desc, col("doc_id"))).cast("long"))
      .where(col("rk") <= PhraseTopK)
  }

  /** Proximity window (token positions) for [[proximityTopK]]. */
  val ProxWindow = 5

  /** Proximity retrieval — the positional index's second standard
    * capability beside exact phrase match (IIR ch. 2): documents where
    * the pair's first word is followed by the second within
    * [[ProxWindow]] positions, scored by the ordered within-window
    * co-occurrence count. Same self-derived pair queries as
    * [[phrasePostingsOf]]; phrase match is the W = 1 special case, so
    * every phrase hit is also a proximity hit (spec-pinned dominance).
    *
    * Scale shape: identical to the phrase join — the (doc, word)
    * equi-keys carry the selectivity and the position window is a
    * residual range predicate on the matched rows, never a band join
    * over positions; per-pair top-k under a WindowGroupLimit rank cut.
    */
  def proximityTopK(spark: SparkSession, dir: String): DataFrame =
    proximityTopKOf(docs(spark, dir))

  def proximityTopKOf(corpus: DataFrame): DataFrame = {
    val pos = corpus.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val bi = pos.as("x").join(pos.as("y"),
        col("x.doc_id") === col("y.doc_id")
          && col("y.pos") === col("x.pos") + 1)
      .groupBy(col("x.word").as("w1"), col("y.word").as("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .orderBy(col("c_xy").desc, col("w1"), col("w2"))
      .limit(PhraseCount)
      .select("w1", "w2")
    val a = broadcast(bi).join(pos, col("w1") === col("word"))
      .select(col("w1"), col("w2"), col("doc_id"), col("pos"))
    val m = a.join(pos.as("b"),
        a("doc_id") === col("b.doc_id")
          && a("w2") === col("b.word")
          && col("b.pos") > a("pos")
          && col("b.pos") <= a("pos") + ProxWindow)
      .groupBy(col("w1"), col("w2"), a("doc_id").as("doc_id"))
      .agg(count(lit(1)).as("prox_tf"))
    m.withColumn("rk", row_number().over(
        Window.partitionBy("w1", "w2")
          .orderBy(col("prox_tf").desc, col("doc_id"))).cast("long"))
      .where(col("rk") <= PhraseTopK)
  }

  /** Evaluation depth: NDCG/precision/recall are measured at this run
    * cut (the TREC-standard @10).
    */
  val EvalK = 10

  /** Graded relevance ceiling: grade(q, d) = min(tf(q, d), this) — a
    * deterministic qrels derivation from the corpus itself (how often
    * the query term recurs in the document), capped the way human
    * judgment scales cap at "highly relevant".
    */
  val EvalMaxGrade = 3L

  /** Binary-relevance threshold (for MRR/precision/recall): grade ≥ 2,
    * i.e. the term recurs — mirroring TREC's "relevant = grade ≥ 1 on
    * the graded scale above marginal".
    */
  val EvalRelGrade = 2L

  /** NDCG rank discounts 1/log₂(r+1) for r = 1..[[EvalK]], precomputed
    * ONCE on the driver and emitted as identical literals into both the
    * Spark plan and the oracle SQL — the only transcendental in the
    * retrieval family, kept hash-exact by never evaluating `log` inside
    * either engine (the [[dlit]] round-trip discipline).
    */
  private val EvalDiscs: Seq[(Int, Double)] =
    (1 to EvalK).map(r => r -> 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  private def discOf(rk: Column): Column =
    EvalDiscs.foldLeft(lit(0.0)) { case (e, (r, d)) =>
      when(rk === r, lit(d)).otherwise(e)
    }

  /** Gain 2^grade − 1 for the 0..[[EvalMaxGrade]] grade domain, as a
    * literal CASE (exact small integers, no pow()).
    */
  private def gainOf(grade: Column): Column =
    when(grade === 1, lit(1.0)).when(grade === 2, lit(3.0))
      .when(grade === EvalMaxGrade, lit(7.0)).otherwise(lit(0.0))

  /** Retrieval-quality scorecard of the BM25 run against the derived
    * graded qrels: per query term — relevant count, DCG@k / ideal
    * DCG@k / NDCG@k (Järvelin & Kekäläinen, TOIS '02), MRR, P@k, R@k.
    *
    * Shape: the run is the BM25 rank table cut at [[EvalK]] (the rank
    * cut is WindowGroupLimit-eligible), qrels are the probed terms'
    * posting lists (bounded by q·max-df), the ideal ranking is a window
    * PARTITIONED by term with its own rank cut, and the final join is
    * q rows against q rows. DCG sums run through DECIMAL(24,6) (the
    * repo-wide deterministic-summation discipline) and every division
    * is a single exactly-rounded IEEE op, so the scorecard sits behind
    * the DuckDB hash gate bit-for-bit.
    */
  def evalRetrieval(spark: SparkSession, dir: String): DataFrame =
    evalRetrievalFrom(tfIdx(spark, dir), dlIdx(spark, dir))

  def evalRetrievalOf(corpus: DataFrame): DataFrame =
    evalRetrievalFrom(tfOf(corpus), dlOf(corpus))

  private def evalRetrievalFrom(tf: DataFrame, dl: DataFrame): DataFrame =
    scorecardOf(bm25ScoredFrom(tf, dl).where(col("rk") <= EvalK)
      .select(col("word"), col("doc_id"), col("rk")), qrelsOf(tf))

  /** Graded qrels derived from the corpus (see [[evalRetrieval]]). */
  private def qrelsOf(tf: DataFrame): DataFrame =
    tf.join(broadcast(queryTermsOf(tf).select("word")), "word")
      .select(col("word"), col("doc_id"),
        least(col("tf"), lit(EvalMaxGrade)).as("grade"))

  /** The per-query scorecard of any (word, doc_id, rk ≤ [[EvalK]]) run
    * against graded qrels — shared by [[evalRetrieval]] and
    * [[evalRankers]].
    */
  private def scorecardOf(runRaw: DataFrame, qrels: DataFrame)
      : DataFrame = {
    val run = runRaw.join(qrels, Seq("word", "doc_id"))
    val runAgg = run.groupBy("word").agg(
      sum((gainOf(col("grade")) * discOf(col("rk")))
        .cast("decimal(24,6)")).as("dcg_dec"),
      sum(when(col("grade") >= EvalRelGrade, 1L).otherwise(0L))
        .as("n_hit"),
      min(when(col("grade") >= EvalRelGrade, col("rk"))).as("first_rel"))
    val ideal = qrels
      .withColumn("irk", row_number().over(Window.partitionBy("word")
        .orderBy(col("grade").desc, col("doc_id"))).cast("long"))
      .where(col("irk") <= EvalK)
      .groupBy("word")
      .agg(sum((gainOf(col("grade")) * discOf(col("irk")))
        .cast("decimal(24,6)")).as("idcg_dec"))
    val rel = qrels.groupBy("word")
      .agg(sum(when(col("grade") >= EvalRelGrade, 1L).otherwise(0L))
        .as("n_rel"))
    runAgg.join(ideal, "word").join(rel, "word")
      .select(col("word"), col("n_rel"),
        col("dcg_dec").cast("double").as("dcg"),
        col("idcg_dec").cast("double").as("idcg"),
        (col("dcg_dec").cast("double") / col("idcg_dec").cast("double"))
          .as("ndcg"),
        coalesce(lit(1.0) / col("first_rel").cast("double"), lit(0.0))
          .as("mrr"),
        (col("n_hit").cast("double") / lit(EvalK.toDouble)).as("p_at_k"),
        when(col("n_rel") === 0, lit(0.0))
          .otherwise(col("n_hit").cast("double")
            / col("n_rel").cast("double")).as("recall_at_k"))
  }

  /** Ranker bake-off: the [[evalRetrieval]] scorecard computed for all
    * three ranking systems here — BM25, Dirichlet QL, and their RRF
    * fusion — against the SAME derived qrels, one row per
    * (system, query term). The per-method eval a retrieval stack runs
    * before choosing its ranker; the shared-qrels design means the
    * comparison isolates the ranking function, not the judgment set.
    * Same exactness discipline as the single-system card.
    */
  def evalRankers(spark: SparkSession, dir: String): DataFrame =
    evalRankersFrom(tfIdx(spark, dir), dlIdx(spark, dir))

  def evalRankersOf(corpus: DataFrame): DataFrame =
    evalRankersFrom(tfOf(corpus), dlOf(corpus))

  private def evalRankersFrom(tf: DataFrame, dl: DataFrame): DataFrame = {
    val qrels = qrelsOf(tf)
    def card(sys: String, run: DataFrame): DataFrame =
      scorecardOf(run.where(col("rk") <= EvalK)
        .select(col("word"), col("doc_id"), col("rk")), qrels)
        .select(lit(sys).as("system"), col("*"))
    card("bm25", bm25ScoredFrom(tf, dl))
      .unionAll(card("ql", qlScoredFrom(tf, dl)))
      .unionAll(card("rrf", hybridRrfFrom(tf, dl)))
  }

  /** Posting-list block size: gaps restart at block boundaries (doc_id
    * div B), exactly like the block/skip structure of real index
    * formats (PForDelta, Lucene blocks) — and precisely what makes the
    * audit SCALE: every window below partitions by (word, block), so a
    * stop word's corpus-sized posting list never serializes through one
    * task; its blocks compress independently.
    */
  val CompressBlock = 128L

  /** Delta-gap compression audit of the inverted index — the
    * index-engineering number behind every IR entry here: per
    * df-magnitude bucket (⌈log₂ df⌉, so the report is ~20 rows whatever
    * |V| is), the raw 8-byte-per-posting cost vs the varbyte cost of
    * block-restarted delta gaps (bits(gap) = length of its binary form,
    * varbyte bytes = ceil(bits/7)). Dense (high-df) lists compress
    * hardest — small gaps — which is WHY inverted indexes store deltas;
    * the ratio column makes that textbook claim a hash-gated number on
    * this corpus. (df_bucket, n_terms, n_postings, raw_bytes,
    * varbyte_bytes, ratio).
    *
    * All-integer until the final exactly-rounded ratio division; the
    * binary length is the built-in `bin()` string length in BOTH
    * engines (identical leading-zero-free semantics).
    */
  def postingsCompress(spark: SparkSession, dir: String): DataFrame =
    postingsCompressFrom(tfIdx(spark, dir))

  def postingsCompressOf(corpus: DataFrame): DataFrame =
    postingsCompressFrom(tfOf(corpus))

  private def postingsCompressFrom(tf: DataFrame): DataFrame = {
    val post = tf.select(col("word"), col("doc_id"))
    val wb = Window.partitionBy(col("word"), col("blk"))
      .orderBy(col("doc_id"))
    val gaps = post
      .withColumn("blk", expr(s"doc_id div $CompressBlock"))
      .withColumn("gap",
        col("doc_id") - coalesce(lag(col("doc_id"), 1).over(wb),
          col("blk") * CompressBlock))
      .withColumn("bits", length(bin(col("gap"))).cast("long"))
    gaps
      .groupBy("word")
      .agg(count(lit(1)).as("df"),
        sum(expr("(bits + 6) div 7")).as("vb"))
      .groupBy(length(bin(col("df"))).cast("long").as("df_bucket"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("df")).as("n_postings"),
        (sum(col("df")) * 8L).as("raw_bytes"),
        sum(col("vb")).as("varbyte_bytes"))
      .select(col("df_bucket"), col("n_terms"), col("n_postings"),
        col("raw_bytes"), col("varbyte_bytes"),
        (col("varbyte_bytes").cast("double") /
          col("raw_bytes").cast("double")).as("ratio"))
  }

  /** Block-Max WAND skipping audit (Ding & Suel, SIGIR '11): for each
    * probed term, how much of its posting list a top-[[BmTopK]] DAAT
    * traversal could skip outright — blocks ([[CompressBlock]] docs,
    * the [[postingsCompress]] layout) whose per-block MAX BM25 score
    * sits strictly below the k-th best score θ of the full ranking can
    * never change the top-k and are jumped over via the skip pointer.
    * The skip fraction IS the case for storing block maxima in the
    * index: it prices the block-max metadata against the postings it
    * avoids scoring, on this corpus, per term.
    *
    * Exactness: θ and every block max are the SAME exact-double BM25
    * scores both engines already agree on ([[bm25ScoredOf]]); the
    * comparison is exact, the fraction one division. Shape: the rank
    * cut selecting θ is WindowGroupLimit-eligible, block maxima are
    * one (word, block)-keyed aggregation of the scored postings, and
    * the θ table ([[BmQueryN]] rows) rides a broadcast join.
    */
  def wandAudit(spark: SparkSession, dir: String): DataFrame =
    wandAuditFrom(tfIdx(spark, dir), dlIdx(spark, dir))

  def wandAuditOf(corpus: DataFrame): DataFrame =
    wandAuditFrom(tfOf(corpus), dlOf(corpus))

  private def wandAuditFrom(tf: DataFrame, dl: DataFrame): DataFrame = {
    val bm = bm25ScoredFrom(tf, dl)
      .select(col("word"), col("doc_id"), col("score"),
        col("rk"), expr(s"doc_id div $CompressBlock").as("blk"))
    val theta = bm.where(col("rk") === BmTopK)
      .select(col("word"), col("score").as("theta"))
    val blocks = bm.groupBy("word", "blk")
      .agg(count(lit(1)).as("n_post"), max(col("score")).as("blk_max"))
    blocks.join(broadcast(theta), "word")
      .groupBy("word")
      .agg(sum(col("n_post")).as("n_postings"),
        count(lit(1)).as("n_blocks"),
        sum(when(col("blk_max") < col("theta"), 1L).otherwise(0L))
          .as("n_skip_blocks"),
        sum(when(col("blk_max") < col("theta"), col("n_post"))
          .otherwise(0L)).as("n_skip_postings"))
      .select(col("word"), col("n_postings"), col("n_blocks"),
        col("n_skip_blocks"), col("n_skip_postings"),
        (col("n_skip_postings").cast("double")
          / col("n_postings").cast("double")).as("skip_frac"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_eval_rankers" -> evalRankers,
    "llm_wand_audit" -> wandAudit,
    "llm_eval_retrieval" -> evalRetrieval,
    "llm_postings_compress" -> postingsCompress,
    "llm_proximity_topk" -> proximityTopK,
    "llm_phrase_postings" -> phrasePostings,
    "llm_postings" -> postings,
    "llm_bm25_topk" -> bm25TopK,
    "llm_ql_topk" -> qlTopK,
    "llm_hybrid_rrf" -> hybridRrf,
    "llm_query_expansion" -> queryExpansion
  )

  /** Double literal in forced-DOUBLE form: a bare decimal parses as
    * DECIMAL in DuckDB (skill gotcha — DECIMAL math would diverge from
    * Spark's doubles), and `Double.toString` + exponent suffix
    * round-trips to the bit-identical constant `lit()` holds.
    */
  private def dlit(x: Double): String =
    if (x.toString.contains("E")) x.toString else x.toString + "e0"

  private val tfCte: String =
    """tf AS (
      |  SELECT doc_id, word, count(*)::BIGINT AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  GROUP BY 1, 2)""".stripMargin

  private val dlCte: String =
    """dl AS (
      |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
      |  FROM documents)""".stripMargin

  private val vkCte: String =
    """vk AS (
      |  SELECT word, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf,
      |    row_number() OVER (ORDER BY sum(tf) DESC, word)::BIGINT AS vrk
      |  FROM tf GROUP BY word)""".stripMargin

  private val qtCte: String =
    s"""$vkCte,
       |qt AS (
       |  SELECT word, df, cf FROM vk
       |  WHERE vrk BETWEEN $BmRankLo AND $BmRankHi)""".stripMargin

  private val statsCte: String =
    """stats AS (
      |  SELECT count(*)::BIGINT AS n_docs,
      |    sum(dl)::BIGINT::DOUBLE / count(*)::BIGINT::DOUBLE AS avgdl
      |  FROM dl)""".stripMargin

  /** Full BM25 rank table as a CTE (word, doc_id, tf, dl, df, score,
    * rk) — shared by the top-k, fusion, and expansion oracles.
    */
  private val bmCte: String = {
    val score =
      s"""((n_docs - df + ${dlit(0.5)}) / (df + ${dlit(0.5)}))
         |      * ((tf * ${dlit(BmK1 + 1.0)}) / (tf + ${dlit(BmK1)}
         |        * (${dlit(1.0 - BmB)} + ${dlit(BmB)} * (dl / avgdl))))"""
        .stripMargin
    s"""bm AS (
       |  SELECT tf.word, tf.doc_id, tf.tf, dl.dl, qt.df,
       |    $score AS score,
       |    row_number() OVER (PARTITION BY tf.word
       |      ORDER BY $score DESC, tf.doc_id)::BIGINT AS rk
       |  FROM tf
       |  JOIN qt ON qt.word = tf.word
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats)""".stripMargin
  }

  /** Full query-likelihood rank table as a CTE (word, doc_id, tf, dl,
    * cf, score, rk).
    */
  private val qlCte: String = {
    val score =
      s"""(tf.tf * c_tokens + $QlMu * qt.cf)::DOUBLE
         |      / ((dl.dl + $QlMu) * c_tokens)::DOUBLE""".stripMargin
    s"""tot AS (SELECT sum(dl)::BIGINT AS c_tokens FROM dl),
       |ql AS (
       |  SELECT tf.word, tf.doc_id, tf.tf, dl.dl, qt.cf,
       |    $score AS score,
       |    row_number() OVER (PARTITION BY tf.word
       |      ORDER BY $score DESC, tf.doc_id)::BIGINT AS rk
       |  FROM tf
       |  JOIN qt ON qt.word = tf.word
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN tot)""".stripMargin
  }

  private val gainSql: String =
    s"CASE grade WHEN 1 THEN ${dlit(1.0)} WHEN 2 THEN ${dlit(3.0)}" +
      s" WHEN 3 THEN ${dlit(7.0)} ELSE ${dlit(0.0)} END"

  private def discSql(rkCol: String): String =
    s"CASE $rkCol " + EvalDiscs.map { case (r, d) =>
      s"WHEN $r THEN ${dlit(d)}"
    }.mkString(" ") + s" ELSE ${dlit(0.0)} END"

  /** Shared qrels/ideal/relevant-count CTEs of the eval oracles. */
  private lazy val qrelsCtes: String =
    s"""qr AS (
       |  SELECT tf.word, tf.doc_id,
       |    least(tf.tf, $EvalMaxGrade)::BIGINT AS grade
       |  FROM tf JOIN qt ON qt.word = tf.word),
       |id AS (
       |  SELECT word,
       |    CAST(SUM(CAST(($gainSql) * (${discSql("irk")})
       |      AS DECIMAL(24,6))) AS DOUBLE) AS idcg
       |  FROM (SELECT word, grade, row_number() OVER (
       |          PARTITION BY word ORDER BY grade DESC, doc_id
       |        )::BIGINT AS irk FROM qr)
       |  WHERE irk <= $EvalK GROUP BY word),
       |rel AS (
       |  SELECT word, SUM(CASE WHEN grade >= $EvalRelGrade THEN 1
       |    ELSE 0 END)::BIGINT AS n_rel
       |  FROM qr GROUP BY word)""".stripMargin

  private def cardCte(sys: String, run: String): String =
    s"""ra_$sys AS (
       |  SELECT word,
       |    CAST(SUM(CAST(($gainSql) * (${discSql("rk")})
       |      AS DECIMAL(24,6))) AS DOUBLE) AS dcg,
       |    SUM(CASE WHEN grade >= $EvalRelGrade THEN 1 ELSE 0
       |      END)::BIGINT AS n_hit,
       |    MIN(CASE WHEN grade >= $EvalRelGrade THEN rk END)::BIGINT
       |      AS first_rel
       |  FROM (SELECT r.word, r.rk, qr.grade
       |        FROM $run r JOIN qr ON qr.word = r.word
       |          AND qr.doc_id = r.doc_id
       |        WHERE r.rk <= $EvalK) GROUP BY word)""".stripMargin

  private def cardSelect(sys: String): String =
    s"""SELECT '$sys' AS system, ra_$sys.word, rel.n_rel, ra_$sys.dcg,
       |  id.idcg, ra_$sys.dcg / id.idcg AS ndcg,
       |  coalesce(${dlit(1.0)} / first_rel::DOUBLE, ${dlit(0.0)})
       |    AS mrr,
       |  n_hit::DOUBLE / ${dlit(EvalK.toDouble)} AS p_at_k,
       |  CASE WHEN n_rel = 0 THEN ${dlit(0.0)}
       |    ELSE n_hit::DOUBLE / n_rel::DOUBLE END AS recall_at_k
       |FROM ra_$sys
       |JOIN id ON id.word = ra_$sys.word
       |JOIN rel ON rel.word = ra_$sys.word""".stripMargin

  val oracle: Map[String, String] = Map(
    "llm_eval_rankers" ->
      s"""WITH $tfCte, $dlCte, $qtCte, $statsCte, $bmCte, $qlCte,
         |bmf AS (SELECT word, doc_id, rk AS bm_rk FROM bm
         |        WHERE rk <= $FuseDepth),
         |qlf AS (SELECT word, doc_id, rk AS ql_rk FROM ql
         |        WHERE rk <= $FuseDepth),
         |fused AS (
         |  SELECT coalesce(b.word, q.word) AS word,
         |    coalesce(b.doc_id, q.doc_id) AS doc_id,
         |    coalesce(${dlit(1.0)} / (($RrfK + b.bm_rk)::DOUBLE),
         |      ${dlit(0.0)})
         |    + coalesce(${dlit(1.0)} / (($RrfK + q.ql_rk)::DOUBLE),
         |      ${dlit(0.0)}) AS rrf
         |  FROM bmf b FULL OUTER JOIN qlf q
         |    ON b.word = q.word AND b.doc_id = q.doc_id),
         |rrfr AS (
         |  SELECT word, doc_id, rk FROM (
         |    SELECT word, doc_id, row_number() OVER (PARTITION BY word
         |      ORDER BY rrf DESC, doc_id)::BIGINT AS rk
         |    FROM fused)
         |  WHERE rk <= $FuseTopK),
         |$qrelsCtes,
         |${cardCte("bm25", "bm")},
         |${cardCte("ql", "ql")},
         |${cardCte("rrf", "rrfr")}
         |${cardSelect("bm25")}
         |UNION ALL
         |${cardSelect("ql")}
         |UNION ALL
         |${cardSelect("rrf")}""".stripMargin,
    "llm_wand_audit" ->
      s"""WITH $tfCte, $dlCte, $qtCte, $statsCte, $bmCte,
         |b AS (
         |  SELECT word, doc_id // $CompressBlock AS blk, rk, score
         |  FROM bm),
         |theta AS (
         |  SELECT word, score AS theta FROM b WHERE rk = $BmTopK),
         |blocks AS (
         |  SELECT word, blk, count(*)::BIGINT AS n_post,
         |    max(score) AS blk_max
         |  FROM b GROUP BY 1, 2)
         |SELECT blocks.word,
         |  sum(n_post)::BIGINT AS n_postings,
         |  count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN blk_max < theta THEN 1 ELSE 0 END)::BIGINT
         |    AS n_skip_blocks,
         |  sum(CASE WHEN blk_max < theta THEN n_post ELSE 0 END)::BIGINT
         |    AS n_skip_postings,
         |  sum(CASE WHEN blk_max < theta THEN n_post ELSE 0
         |    END)::BIGINT::DOUBLE / sum(n_post)::BIGINT::DOUBLE
         |    AS skip_frac
         |FROM blocks JOIN theta ON theta.word = blocks.word
         |GROUP BY 1""".stripMargin,
    "llm_eval_retrieval" ->
      s"""WITH $tfCte, $dlCte, $qtCte, $statsCte, $bmCte,
         |qr AS (
         |  SELECT tf.word, tf.doc_id,
         |    least(tf.tf, $EvalMaxGrade)::BIGINT AS grade
         |  FROM tf JOIN qt ON qt.word = tf.word),
         |run AS (
         |  SELECT bm.word, bm.rk, qr.grade
         |  FROM bm JOIN qr ON qr.word = bm.word AND qr.doc_id = bm.doc_id
         |  WHERE bm.rk <= $EvalK),
         |ra AS (
         |  SELECT word,
         |    CAST(SUM(CAST(($gainSql) * (${discSql("rk")})
         |      AS DECIMAL(24,6))) AS DOUBLE) AS dcg,
         |    SUM(CASE WHEN grade >= $EvalRelGrade THEN 1 ELSE 0
         |      END)::BIGINT AS n_hit,
         |    MIN(CASE WHEN grade >= $EvalRelGrade THEN rk END)::BIGINT
         |      AS first_rel
         |  FROM run GROUP BY word),
         |id AS (
         |  SELECT word,
         |    CAST(SUM(CAST(($gainSql) * (${discSql("irk")})
         |      AS DECIMAL(24,6))) AS DOUBLE) AS idcg
         |  FROM (SELECT word, grade, row_number() OVER (
         |          PARTITION BY word ORDER BY grade DESC, doc_id
         |        )::BIGINT AS irk FROM qr)
         |  WHERE irk <= $EvalK GROUP BY word),
         |rel AS (
         |  SELECT word, SUM(CASE WHEN grade >= $EvalRelGrade THEN 1
         |    ELSE 0 END)::BIGINT AS n_rel
         |  FROM qr GROUP BY word)
         |SELECT ra.word, rel.n_rel, ra.dcg, id.idcg,
         |  ra.dcg / id.idcg AS ndcg,
         |  coalesce(${dlit(1.0)} / first_rel::DOUBLE, ${dlit(0.0)})
         |    AS mrr,
         |  n_hit::DOUBLE / ${dlit(EvalK.toDouble)} AS p_at_k,
         |  CASE WHEN n_rel = 0 THEN ${dlit(0.0)}
         |    ELSE n_hit::DOUBLE / n_rel::DOUBLE END AS recall_at_k
         |FROM ra
         |JOIN id ON id.word = ra.word
         |JOIN rel ON rel.word = ra.word""".stripMargin,
    "llm_postings_compress" ->
      s"""WITH post AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |gaps AS (
         |  SELECT word, doc_id, doc_id // $CompressBlock AS blk,
         |    doc_id - coalesce(
         |      lag(doc_id) OVER (PARTITION BY word,
         |        doc_id // $CompressBlock ORDER BY doc_id),
         |      (doc_id // $CompressBlock) * $CompressBlock) AS gap
         |  FROM post),
         |terms AS (
         |  SELECT word, count(*)::BIGINT AS df,
         |    sum((length(bin(gap)) + 6) // 7)::BIGINT AS vb
         |  FROM gaps GROUP BY word)
         |SELECT length(bin(df))::BIGINT AS df_bucket,
         |  count(*)::BIGINT AS n_terms,
         |  sum(df)::BIGINT AS n_postings,
         |  (sum(df) * 8)::BIGINT AS raw_bytes,
         |  sum(vb)::BIGINT AS varbyte_bytes,
         |  sum(vb)::BIGINT::DOUBLE / (sum(df) * 8)::BIGINT::DOUBLE
         |    AS ratio
         |FROM terms GROUP BY 1""".stripMargin,
    "llm_proximity_topk" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, t[i] AS word, i - 1 AS pos
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
         |        FROM tok)),
         |ph AS (
         |  SELECT w1, w2 FROM (
         |    SELECT a.word AS w1, b.word AS w2, count(*) AS c_xy
         |    FROM pos a JOIN pos b
         |      ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |    GROUP BY 1, 2)
         |  ORDER BY c_xy DESC, w1, w2 LIMIT $PhraseCount),
         |m AS (
         |  SELECT ph.w1, ph.w2, a.doc_id, count(*)::BIGINT AS prox_tf
         |  FROM ph
         |  JOIN pos a ON a.word = ph.w1
         |  JOIN pos b ON b.doc_id = a.doc_id AND b.word = ph.w2
         |    AND b.pos > a.pos AND b.pos <= a.pos + $ProxWindow
         |  GROUP BY 1, 2, 3)
         |SELECT w1, w2, doc_id, prox_tf, rk FROM (
         |  SELECT w1, w2, doc_id, prox_tf,
         |    row_number() OVER (PARTITION BY w1, w2
         |      ORDER BY prox_tf DESC, doc_id)::BIGINT AS rk
         |  FROM m)
         |WHERE rk <= $PhraseTopK""".stripMargin,
    "llm_phrase_postings" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, t[i] AS word, i - 1 AS pos
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
         |        FROM tok)),
         |ph AS (
         |  SELECT w1, w2 FROM (
         |    SELECT a.word AS w1, b.word AS w2, count(*) AS c_xy
         |    FROM pos a JOIN pos b
         |      ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |    GROUP BY 1, 2)
         |  ORDER BY c_xy DESC, w1, w2 LIMIT $PhraseCount),
         |m AS (
         |  SELECT ph.w1, ph.w2, a.doc_id, count(*)::BIGINT AS phrase_tf
         |  FROM ph
         |  JOIN pos a ON a.word = ph.w1
         |  JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |    AND b.word = ph.w2
         |  GROUP BY 1, 2, 3)
         |SELECT w1, w2, doc_id, phrase_tf, rk FROM (
         |  SELECT w1, w2, doc_id, phrase_tf,
         |    row_number() OVER (PARTITION BY w1, w2
         |      ORDER BY phrase_tf DESC, doc_id)::BIGINT AS rk
         |  FROM m)
         |WHERE rk <= $PhraseTopK""".stripMargin,
    "llm_postings" ->
      s"""WITH $tfCte
         |SELECT word, df, cf, doc_id AS top_doc_id, tf AS top_tf
         |FROM (
         |  SELECT word, doc_id, tf,
         |    count(*) OVER (PARTITION BY word)::BIGINT AS df,
         |    sum(tf) OVER (PARTITION BY word)::BIGINT AS cf,
         |    row_number() OVER (PARTITION BY word
         |      ORDER BY tf DESC, doc_id) AS rk
         |  FROM tf)
         |WHERE rk = 1""".stripMargin,
    "llm_bm25_topk" ->
      s"""WITH $tfCte, $dlCte, $qtCte, $statsCte, $bmCte
         |SELECT word, doc_id, tf, dl, df, score, rk FROM bm
         |WHERE rk <= $BmTopK""".stripMargin,
    "llm_ql_topk" ->
      s"""WITH $tfCte, $dlCte, $qtCte, $qlCte
         |SELECT word, doc_id, tf, dl, cf, score, rk FROM ql
         |WHERE rk <= $BmTopK""".stripMargin,
    "llm_hybrid_rrf" ->
      s"""WITH $tfCte, $dlCte, $qtCte, $statsCte, $bmCte, $qlCte,
         |bmf AS (SELECT word, doc_id, rk AS bm_rk FROM bm
         |        WHERE rk <= $FuseDepth),
         |qlf AS (SELECT word, doc_id, rk AS ql_rk FROM ql
         |        WHERE rk <= $FuseDepth),
         |fused AS (
         |  SELECT coalesce(b.word, q.word) AS word,
         |    coalesce(b.doc_id, q.doc_id) AS doc_id,
         |    b.bm_rk, q.ql_rk,
         |    coalesce(${dlit(1.0)} / (($RrfK + b.bm_rk)::DOUBLE),
         |      ${dlit(0.0)})
         |    + coalesce(${dlit(1.0)} / (($RrfK + q.ql_rk)::DOUBLE),
         |      ${dlit(0.0)}) AS rrf
         |  FROM bmf b FULL OUTER JOIN qlf q
         |    ON b.word = q.word AND b.doc_id = q.doc_id)
         |SELECT word, doc_id, bm_rk, ql_rk, rrf, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY word
         |    ORDER BY rrf DESC, doc_id)::BIGINT AS rk
         |  FROM fused)
         |WHERE rk <= $FuseTopK""".stripMargin,
    "llm_query_expansion" ->
      s"""WITH $tfCte, $dlCte, $qtCte, $statsCte, $bmCte,
         |fb AS (SELECT word AS qword, doc_id FROM bm
         |       WHERE rk <= $BmTopK),
         |cand AS (
         |  SELECT fb.qword, tf.word, sum(tf.tf)::BIGINT AS sum_tf
         |  FROM fb JOIN tf ON tf.doc_id = fb.doc_id
         |  GROUP BY 1, 2)
         |SELECT qword, exp_word, sum_tf, df, rk FROM (
         |  SELECT cand.qword, cand.word AS exp_word, cand.sum_tf,
         |    vk.df,
         |    row_number() OVER (PARTITION BY cand.qword
         |      ORDER BY cand.sum_tf DESC, cand.word)::BIGINT AS rk
         |  FROM cand
         |  JOIN vk ON vk.word = cand.word
         |  WHERE cand.word != cand.qword AND vk.vrk >= $BmRankLo)
         |WHERE rk <= $PrfTerms""".stripMargin
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** Deduplication operators over `documents` / `embeddings` (SURVEY.md
  * §2.11 — the LLM-training-pipeline dedup family). Six detection
  * methods (exact, MinHash-LSH, n-gram Jaccard, SimHash, embedding SRP,
  * BOW-bigram cosine) plus the incremental new-batch-vs-corpus check and
  * the apply step that emits the cleaned corpus — each a different
  * recall/cost point, all BUCKETED designs: no query here ever
  * materializes the all-pairs cross product — candidate pairs always come
  * from an equi-join on a derived key (content hash, LSH band, shingle,
  * simhash chunk, SRP bucket), which is the property that survives 100 TB.
  * The DuckDB oracles for the approximate methods ARE all-pairs — that is
  * the point: the bucketed Spark plan must reproduce the exact answer
  * (LSH parameters are sized so candidate recall is total at the output
  * threshold; validated at fixture scale by the hash-compare).
  *
  * Determinism: every hash is either xxhash64 (Spark-internal candidate
  * keys only — never crosses into the oracle contract) or md5-derived
  * (when the value itself is part of the contract, e.g. simhash bits),
  * and every similarity is an exact int/int or IEEE-sequential double so
  * Spark and DuckDB agree bit-for-bit.
  */
object Dedup {

  /** 3-gram near-dup output threshold (planted fixture near-dups sit at
    * Jaccard ≥ 0.9; threshold 0.8 per the standard near-dedup setting).
    */
  val JaccardMinhash = 0.8

  /** 4-gram inverted-index variant: stricter shingles, looser threshold. */
  val JaccardNgram = 0.7

  /** Simhash Hamming radius. 8 chunks of 7 bits guarantee (pigeonhole)
    * that any pair within radius 7 shares a chunk — zero false negatives.
    */
  val HammingMax = 7
  val SimhashBits = 56
  val SimhashChunks = 8

  /** Embedding near-dup cosine threshold (fixture embeddings have no
    * planted dups; 0.4 selects the top tail so the query is non-vacuous).
    */
  val CosMin = 0.4

  /** MinHash signature length / banding: 32 hashes = 16 bands × 2 rows.
    * P[miss | J=0.8] = (1−0.8²)¹⁶ ≈ 1e-7 per pair — and the fixture is
    * deterministic, so the oracle compare proves recall is actually total.
    */
  val MinhashFuncs = 32
  val MinhashBands = 16

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select("doc_id", "text")

  private val toks: Column = split(col("text"), " ")

  /** Distinct word n-gram shingles of `text`; whole text as the single
    * shingle for degenerate short docs (fixture min is 10 tokens).
    * Shared convention — see [[Shingles]].
    */
  private def shingles(n: Int): Column = Shingles.shingles(n)

  // Each method has a DataFrame-parameterized form (`…Of`) taking any
  // (doc_id, text) corpus — e.g. text files via graft.sources — and a
  // fixture entry point used by the oracle contract.

  /** Exact dedup: group by content hash; survivor = lowest doc_id.
    * At 100 TB this is one hash-partitioned aggregation with map-side
    * partials — the canonical first pass of every dedup pipeline.
    */
  def exactOf(corpus: DataFrame): DataFrame =
    corpus
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))

  def exact(spark: SparkSession, dir: String): DataFrame =
    exactOf(docs(spark, dir))

  /** MinHash-LSH near-dup: shingle → 32 minhashes → 16 banded bucket keys
    * → equi-self-join on (band, key) → exact Jaccard verify on candidates.
    * The only shuffles are the band-bucket join and the shingle-array
    * fetch join; candidate volume is O(colliding pairs), never O(n²).
    * Internal hashes are xxhash64 (codegen'd); the verified Jaccard the
    * oracle sees is exact int/int.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairsFrom(sh3(spark, dir), bands3(spark, dir))

  /** Session-lifetime dedup index cache — the [[Apriori.itemsetSupports]]
    * pattern. A dedup pass over a lake is never one query: minhash,
    * incremental, and apply all read the same 3-gram shingle + band
    * tables, simhash the same shingles, and a real pipeline keeps these
    * as its persistent index rather than re-deriving them per pass. One
    * persisted table per (session, dir, kind); entries live until
    * [[graft.SessionCache.invalidate]] (same lifetime contract as
    * Apriori's cache — callers that rewrite parquet under a cached dir
    * or cycle sessions invalidate at the boundary, and
    * [[graft.Materialize.release]] reclaims whatever the session's
    * `graft.materialize` strategy allocated — checkpoint blocks
    * unpersisted, reliable checkpoint FILES deleted). The `…Of` forms
    * stay cache-free: they take arbitrary DataFrames, so identity-keyed
    * caching would leak.
    */
  private val indexCache =
    new graft.SessionCache[DataFrame](graft.Materialize.release)

  private def cachedIdx(spark: SparkSession, dir: String, kind: String,
      widen: Boolean = false)(
      build: => DataFrame): DataFrame =
    // checkpoint, not persist(): the typed kernels and self-joins
    // re-read these tables as ROWS, and scanning the columnar SQL cache
    // (deserialize per consumer) measured 2-4× slower and erratic vs
    // checkpointed row blocks on the bow pipeline. The cut strategy is
    // the session conf (`graft.materialize` — localCheckpoint on one
    // JVM, reliable on a cluster; [[Materialize.session]]). (Nested
    // builds — bands3 derives from sh3 — are why [[graft.SessionCache]]
    // is get+putIfAbsent, never computeIfAbsent.)
    // `widen = true` repartitions the MATERIALIZED cut up to the
    // session shuffle parallelism when it came out narrower — ONLY for
    // indexes whose serve-side per-row compute dominates task overhead
    // (the bow vectors: exact 256-dim cosine per candidate). r16
    // measured the blanket version NEGATIVE on the cheap serves
    // (minhash/ngram candidate maps are trivial per row; 32 tasks of
    // scheduling overhead beat 1 task of work) and 2x POSITIVE on bow
    // — see [[graft.Materialize.widened]].
    indexCache.getOrBuild(spark, dir, kind)(
      if (widen)
        graft.Materialize.widened(graft.Materialize.session(spark))(build)
      else graft.Materialize.session(spark)(build))

  private def sh3(spark: SparkSession, dir: String): DataFrame =
    cachedIdx(spark, dir, "sh3")(
      docs(spark, dir).select(col("doc_id"), shingles(3).as("s")))

  private def bands3(spark: SparkSession, dir: String): DataFrame =
    cachedIdx(spark, dir, "bands3")(bandKernel(sh3(spark, dir)))

  private def sh4(spark: SparkSession, dir: String): DataFrame =
    cachedIdx(spark, dir, "sh4")(
      docs(spark, dir).select(col("doc_id"), shingles(4).as("s")))

  /** Shingle table of a corpus, cut once per call: it feeds the
    * signature pipeline AND the verify joins — without the cut each
    * consumer recomputes tokenize+shingle from the scan.
    */
  private def shingleTable(corpus: DataFrame): DataFrame =
    Materialize.Local(corpus.select(col("doc_id"), shingles(3).as("s")))

  /** Banded minhash index of a shingle table. Signature + banding in one
    * typed kernel: one md5 per shingle, then [[MinhashFuncs]] cheap
    * splitmix derivations (an interpreted array_min(transform(...)) per
    * hash function is ~5× slower).
    */
  private def bandTable(sh: DataFrame): DataFrame =
    Materialize.Local(bandKernel(sh))

  private def bandKernel(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession; import s.implicits._
    sh.as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, ss) =>
          val base = ss.map(Hashing.md5hash56Jvm(md, _)).toArray
          val sig = Array.tabulate(MinhashFuncs) { i =>
            var m = Long.MaxValue
            var j = 0
            while (j < base.length) {
              val x = Hashing.mix64(base(j) ^ (i * 0x9e3779b97f4a7c15L))
              if (x < m) m = x
              j += 1
            }
            m
          }
          (0 until MinhashBands).iterator.map { b =>
            (id, b, Hashing.mix64(sig(2 * b) ^ Hashing.mix64(sig(2 * b + 1))))
          }
        }
      }
      .toDF("doc_id", "band", "bkey")
  }

  /** Incremental near-dup check: NEW documents against an EXISTING
    * corpus — the ingestion-time shape of dedup (is this crawl batch a
    * near-copy of anything already in the lake?). Both sides get banded
    * minhash indexes; candidates come from the cross band join only (no
    * self-pairs within either set); survivors verify with exact Jaccard
    * at the same threshold. At scale the corpus band table is the
    * persistent index — computed once, joined by every arriving batch.
    * Output: (new_doc_id, corpus_doc_id, jaccard).
    */
  /** Shared exact-Jaccard verify: join candidate (da, db) pairs back to
    * their full shingle sets and keep those at/above `minJ`. Every
    * emitted value is exact int/int — the one place the contract's
    * Jaccard arithmetic lives.
    */
  private def jaccardVerify(cand: DataFrame, shA: DataFrame, shB: DataFrame,
      outA: String, outB: String, minJ: Double): DataFrame = {
    val inter = size(array_intersect(col("A.s"), col("B.s")))
    val union = size(col("A.s")) + size(col("B.s")) - inter
    // Pin the candidate side's parallelism EXPLICITLY (an explicit
    // numPartitions repartition is exempt from AQE coalescing): a
    // candidate row is byte-tiny (two ids), so AQE's byte-based
    // coalescer folds the post-distinct exchange down to 1-2
    // partitions — but once the shingle arrays join in, each row
    // carries O(|shingle set|) array_intersect work, and that compute
    // then runs 1-2-way no matter how many cores the cluster has. The
    // r16 scaling study measured exactly this: the sf1 minhash serve
    // spent 10.1 s of executor time in a 2-task stage (cpu_util 0.08
    // on 32 cores) and scaled at exponent ~1.5, vs ~1.0 after the pin.
    // Byte heuristics cannot see compute-per-row; joins whose cost
    // lives in the verify expression must size their own parallelism.
    // Partitioned on da ALONE deliberately: candidate generators
    // upstream dedup by (da, db), and a repartition whose partitioning
    // equals its child's (da, db) hash layout is elided as redundant —
    // the pin must differ from the child to survive planning (and da
    // matches the first verify join's key, the layout a sort-merge
    // fallback would want when shA outgrows the broadcast threshold).
    val n = cand.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    cand.repartition(n, col("da"))
      .join(shA.as("A"), col("da") === col("A.doc_id"))
      .join(shB.as("B"), col("db") === col("B.doc_id"))
      .select(col("da").as(outA), col("db").as(outB),
        (inter.cast("double") / union.cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJ)
  }

  private def minhashAgainstFrom(shNew: DataFrame, bandsNew: DataFrame,
      shOld: DataFrame, bandsOld: DataFrame): DataFrame = {
    val cand = bandsNew.as("x").join(bandsOld.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    jaccardVerify(cand, shNew, shOld,
      "new_doc_id", "corpus_doc_id", JaccardMinhash)
  }

  /** A corpus's precomputed minhash index: the shingle table and its
    * banded signature table. Build once ([[buildMinhashIndex]]), then
    * serve every arriving batch through [[minhashLshAgainstIndex]] —
    * the persistent-lake-index access pattern an ingestion pipeline
    * actually runs.
    */
  case class MinhashIndex(sh: DataFrame, bands: DataFrame)

  def buildMinhashIndex(corpus: DataFrame): MinhashIndex = {
    val sh = shingleTable(corpus)
    MinhashIndex(sh, bandTable(sh))
  }

  /** Incremental check of a new batch against a prebuilt corpus index —
    * the index is NOT recomputed per call.
    */
  def minhashLshAgainstIndex(newDocs: DataFrame, idx: MinhashIndex)
      : DataFrame = {
    val shNew = shingleTable(newDocs)
    minhashAgainstFrom(shNew, bandTable(shNew), idx.sh, idx.bands)
  }

  /** The fixture corpus's session-cached minhash index as a
    * [[MinhashIndex]] — what an arriving batch joins against
    * ([[graft.operators.Curation]]'s incremental-refresh composition)
    * without rebuilding the shingle/band tables the other dedup entries
    * already cut.
    */
  private[operators] def corpusIndex(spark: SparkSession, dir: String)
      : MinhashIndex = MinhashIndex(sh3(spark, dir), bands3(spark, dir))

  def minhashLshAgainst(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    minhashLshAgainstIndex(newDocs, buildMinhashIndex(corpus))

  /** Fixture entry for [[minhashLshAgainst]]: documents with
    * doc_id ≡ 0 (mod 10) play the arriving batch, the rest the existing
    * corpus — a deterministic 10% "new crawl" split. Shingling and
    * banding are per-row, so both sides are filters of the session-cached
    * whole-corpus index — exactly how a persistent lake index serves an
    * arriving batch.
    */
  def minhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % 10 === 0
    minhashAgainstFrom(
      sh3(spark, dir).where(isNew), bands3(spark, dir).where(isNew),
      sh3(spark, dir).where(!isNew), bands3(spark, dir).where(!isNew))
  }

  private def minhashPairsFrom(sh: DataFrame, bands: DataFrame): DataFrame = {
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    jaccardVerify(cand, sh, sh, "doc_a", "doc_b", JaccardMinhash)
  }

  def minhashLshOf(corpus: DataFrame): DataFrame = {
    val sh = shingleTable(corpus)
    minhashPairsFrom(sh, bandTable(sh))
  }

  /** Hot-shingle doc-frequency threshold for [[ngramJaccardOf]]'s
    * candidate generation. A shingle in m docs contributes m² join rows
    * to the inverted-index self-join — at 100 TB a boilerplate 4-gram is
    * a full-blown skew key — so postings are split by doc frequency:
    *
    *  - COLD shingles (df ≤ stopDf) keep the full pairwise join:
    *    ≤ stopDf² candidates per shingle.
    *  - HOT shingles (df > stopDf) emit only STAR pairs — each posting
    *    with the posting list's minimum doc_id: m − 1 candidates,
    *    linear, never quadratic, and the star keeps the induced
    *    component's diameter at 2.
    *
    * The verify step scores FULL shingle sets, so every reported Jaccard
    * is exact. Recall bound (explicit): any pair sharing ≥ 1 cold
    * shingle is found directly. For pairs whose EVERY shared shingle is
    * hot, only the star pairs are verified — a mass-duplicated template
    * cluster is recovered in full (every copy verifies against the
    * representative, so [[clustersOf]] yields one component), but two
    * docs that share ≥ threshold hot shingles WITHOUT being near-dups of
    * the posting representative are not emitted. That residue is the
    * price of linear candidate volume; lower stopDf risk-free only for
    * corpora whose hot shingles are true boilerplate. 64 is a no-op on
    * the fixtures (max observed doc-frequency: 6 at sf0.1), so the
    * all-pairs oracle still hash-matches.
    */
  val NgramStopDf = 64

  /** n-gram Jaccard near-dup via inverted index: explode 4-gram shingles,
    * drop stop-shingles (doc-frequency > `stopDf` — the skew guard, see
    * [[NgramStopDf]]), equi-self-join on the shingle for candidate pairs,
    * then exact Jaccard verify on full shingle sets. No signature
    * approximation: every emitted value is exact int/int.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardFrom(sh4(spark, dir), NgramStopDf)

  /** 4-gram shingle table of a corpus (pre-materialization). */
  private[graft] def ngramShingles(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), shingles(4).as("s"))

  /** Candidate pairs from the stop-filtered inverted index — exposed for
    * the skew spec: bounded CANDIDATE volume (not just correct output) is
    * the property that survives 100 TB.
    */
  private[graft] def ngramCandidates(sh: DataFrame, stopDf: Int): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("s")).as("g"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
    val cold = ex.where(col("df") <= stopDf).drop("df")
    val coldPairs = cold.as("x").join(cold.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
    // hot shingles: STAR pairs (posting-minimum doc, other doc) — m−1
    // rows instead of m², and the induced component has diameter 2, so
    // downstream clustersOf converges in O(1) rounds (a chain topology
    // would need O(m) sequential rounds). da < db holds by construction.
    val hotPairs = ex.where(col("df") > stopDf)
      .withColumn("mn", min(col("doc_id")).over(Window.partitionBy("g")))
      .where(col("doc_id") =!= col("mn"))
      .select(col("mn").as("da"), col("doc_id").as("db"))
    coldPairs.union(hotPairs).distinct()
  }

  def ngramJaccardOf(corpus: DataFrame, stopDf: Int = NgramStopDf)
      : DataFrame =
    // `sh` feeds the index build + both verify sides
    ngramJaccardFrom(Materialize.Local(ngramShingles(corpus)), stopDf)

  private def ngramJaccardFrom(sh: DataFrame, stopDf: Int): DataFrame =
    jaccardVerify(ngramCandidates(sh, stopDf), sh, sh,
      "doc_a", "doc_b", JaccardNgram)

  /** PREFIX-FILTERED candidate generation (Chaudhuri et al. ICDE '06 /
    * Xiao et al. "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW '08 — the PPJoin family): under a global token
    * order, two shingle sets with Jaccard ≥ τ MUST share a token within
    * each side's first |X| − ⌈τ·|X|⌉ + 1 tokens, so only that prefix is
    * indexed and probed — at τ = 0.7 the posting table shrinks ~70%,
    * and because the canonical order is ascending document frequency,
    * prefixes hold each document's RAREST shingles: the hot-token
    * postings that force [[ngramCandidates]]' stop-split never enter
    * the index at all (no star-pair fallback needed). Exactness is not
    * argued but PROVEN: `llm_dedup_prefix` ships the same oracle as
    * `llm_dedup_ngram`, so any pair the prefix index missed would
    * hash-fail the gate; the spec additionally pins candidate volume
    * strictly below the full-index count.
    */
  def ngramJaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPrefixFrom(sh4(spark, dir))

  def ngramJaccardPrefixOf(corpus: DataFrame): DataFrame =
    ngramJaccardPrefixFrom(Materialize.Local(ngramShingles(corpus)))

  /** [[JaccardNgram]] as the exact rational 7/10. The prefix LENGTH
    * must be computed in integer arithmetic: ⌈τ·|X|⌉ evaluated in IEEE
    * doubles is wrong whenever τ·|X| lands just above an integer —
    * ceil(0.7 · 30) = ceil(21.000000000000004) = 22, one past the true
    * 21, which SHORTENS the prefix below the provable bound and can
    * silently miss a qualifying pair (untriggered at fixture shingle
    * sizes, but the operator is corpus-generic). ⌈n·sz/d⌉ is
    * (n·sz + d − 1) DIV d, exact at any size.
    */
  val JaccardNgramNum = 7L
  val JaccardNgramDen = 10L

  private def ngramJaccardPrefixFrom(sh: DataFrame): DataFrame =
    jaccardVerify(
      prefixCandidates(sh, JaccardNgramNum, JaccardNgramDen), sh, sh,
      "doc_a", "doc_b", JaccardNgram)

  /** Per-doc prefix of the (df, g)-ordered shingle list, cut at the
    * τ = num/den filter bound |X| − ⌈τ·|X|⌉ + 1 (exact integer ceil —
    * see [[JaccardNgramNum]]).
    */
  private def prefixOf(sh: DataFrame, tauNum: Long, tauDen: Long)
      : DataFrame =
    sh.select(col("doc_id"), size(col("s")).cast("long").as("sz"),
        explode(col("s")).as("g"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      .where(col("r") <=
        col("sz") - expr(s"($tauNum * sz + $tauDen - 1) DIV $tauDen")
          + 1)
      .select("doc_id", "g")

  private[graft] def prefixCandidates(sh: DataFrame, tauNum: Long,
      tauDen: Long): DataFrame = {
    val prefix = prefixOf(sh, tauNum, tauDen)
    prefix.as("x").join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
  }

  /** Containment threshold 9/10: |S(A) ∩ S(B)| / |S(A)| ≥ 0.9 flags A
    * as contained in B.
    */
  val ContainNum = 9L
  val ContainDen = 10L

  /** DIRECTED containment join (Broder's containment, the asymmetric
    * cousin of Jaccard): doc A is flagged as contained in doc B when
    * ≥ [[ContainNum]]/[[ContainDen]] of A's 4-gram shingles appear in
    * B — the quote-inclusion / subset-duplication case a symmetric
    * Jaccard dedup misses outright (a paragraph pasted into a 10×
    * longer page has Jaccard ≈ 0.1 but containment ≈ 1.0).
    *
    * Candidates come from the ASYMMETRIC prefix filter (Chaudhuri et
    * al., ICDE '06): if C(A→B) ≥ τ, at most |A| − ⌈τ·|A|⌉ of A's
    * shingles are outside B, so A's first |A| − ⌈τ·|A|⌉ + 1 shingles
    * under the global (df, g) order MUST hit B's full posting list —
    * only the contained side is prefix-cut, the container side keeps
    * its whole index. The probe side is each doc's RAREST shingles
    * (the order is ascending df), so hot-posting probes are
    * structurally rare; at τ = 0.9 the probe table is ~10% of the
    * index. The verify predicate is exact integers
    * (den·inter ≥ num·|A|); the reported ratio is one division.
    */
  def containment(spark: SparkSession, dir: String): DataFrame =
    containmentFrom(sh4(spark, dir))

  def containmentOf(corpus: DataFrame): DataFrame =
    containmentFrom(Materialize.Local(ngramShingles(corpus)))

  private def containmentFrom(sh: DataFrame): DataFrame = {
    val post = sh.select(col("doc_id").as("db"),
      explode(col("s")).as("g"))
    val cand = prefixOf(sh, ContainNum, ContainDen)
      .select(col("doc_id").as("da"), col("g"))
      .join(post, "g")
      .where(col("da") =!= col("db"))
      .select("da", "db").distinct()
    cand
      .join(sh.select(col("doc_id").as("da"), col("s").as("sa")), "da")
      .join(sh.select(col("doc_id").as("db"), col("s").as("sb")), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long")
          .as("inter"),
        size(col("sa")).cast("long").as("sz_a"),
        size(col("sb")).cast("long").as("sz_b"))
      .where(col("inter") * ContainDen >= lit(ContainNum) * col("sz_a"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
        col("sz_b"),
        (col("inter").cast("double") / col("sz_a").cast("double"))
          .as("containment"))
  }

  /** 56-bit SimHash fingerprint per doc (sign of per-bit ±1 vote over
    * md5-derived shingle hashes — computed narrow, zero shuffles), then
    * Hamming-≤7 pairs via the 8×7-bit chunk pigeonhole: a pair within
    * radius 7 must agree on ≥1 chunk, so the chunk equi-join loses
    * nothing. Hashes are md5-derived because the simhash value itself is
    * part of the oracle contract.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashFrom(cachedIdx(spark, dir, "simhash")(
      simhashKernel(sh3(spark, dir))))

  def simhashPairsOf(corpus: DataFrame): DataFrame =
    // Materialized: the chunk self-join reads the 1-long-per-doc
    // fingerprints instead of recomputing the pipeline on both sides.
    simhashFrom(Materialize.Local(simhashKernel(
      corpus.select(col("doc_id"), shingles(3).as("s")))))

  /** (doc_id, sim) fingerprints of a (doc_id, s) shingle table. Bit-vote
    * in a typed kernel (56 interpreted aggregate-lambdas per row measured
    * ~5× slower); hashes stay md5-derived because the simhash value
    * itself is part of the oracle contract.
    */
  private def simhashKernel(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession; import s.implicits._
    sh.as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, ss) =>
          val votes = new Array[Int](SimhashBits)
          ss.foreach { str =>
            val h = Hashing.md5hash56Jvm(md, str)
            var b = 0
            while (b < SimhashBits) {
              if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
              b += 1
            }
          }
          var sim = 0L
          var b = 0
          while (b < SimhashBits) {
            if (votes(b) > 0) sim |= (1L << b)
            b += 1
          }
          (id, sim)
        }
      }
      .toDF("doc_id", "sim")
  }

  private def simhashFrom(sims: DataFrame): DataFrame = {
    val chunks = sims.select(
      col("doc_id"), col("sim"),
      posexplode(array((0 until SimhashChunks).map(c =>
        shiftright(col("sim"), 7 * c).bitwiseAND(lit(0x7fL))): _*)))
      .select(col("doc_id"), col("sim"), col("pos"), col("col").as("ck"))
    chunks.as("x").join(chunks.as("y"),
        col("x.pos") === col("y.pos") && col("x.ck") === col("y.ck")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).cast("long")
          .as("hamming"))
      // filter BEFORE distinct: the Hamming test kills ~all of the
      // random 7-bit chunk collisions, so the dedup only sees survivors
      .where(col("hamming") <= HammingMax)
      .distinct()
  }

  // ---- embedding near-dup (signed-random-projection LSH) ----

  val SrpTables = 8
  val SrpBits = 8

  /** Embedding-cosine near-dup: 8 SRP tables × 8 sign bits bucket each
    * vector; pairs sharing any table bucket are candidates; exact cosine
    * (sequential-order double arithmetic, matching the oracle op-for-op)
    * filters at [[CosMin]]. The plane set is a 64×64 constant literal —
    * broadcast inside the plan, never a shuffle. Approximate-by-design:
    * the oracle replays the same SRP bucketing, so recall is part of the
    * contract, not hand-waved.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    // the SRP bucket table rides the session index cache (the shingle/
    // band pattern): built+checkpointed once per (session, dir) instead
    // of re-kernelized per invocation — an ANN/dedup pass keeps its
    // bucket index persistent, same as the minhash band table
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    embeddingNearDupFrom(emb, cachedIdx(spark, dir, "srp")(
      Hashing.srpBuckets(spark, emb, SrpTables, SrpBits)))
  }

  /** Vector form: any (vec_id, e: ARRAY<DOUBLE>) DataFrame. */
  def embeddingNearDupOf(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    embeddingNearDupFrom(emb,
      Materialize.Local(Hashing.srpBuckets(spark, emb, SrpTables, SrpBits)))
      // both sides of the bucket self-join read the materialized table
  }

  private def embeddingNearDupFrom(emb: DataFrame,
                                   buckets: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.t") === col("y.t") && col("x.bkt") === col("y.bkt")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
    cand
      .join(emb.as("A"), col("va") === col("A.vec_id"))
      .join(emb.as("B"), col("vb") === col("B.vec_id"))
      .select(col("va").as("vec_a"), col("vb").as("vec_b"),
        Hashing.cosineNative(spark, col("A.e"), col("B.e")).as("cos_sim"))
      .where(col("cos_sim") >= CosMin)
  }

  // ---- semantic dedup (cluster-partitioned, SemDeDup-style) ----

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding space with the IVF coarse quantizer
    * ([[Similarity.kmeansCentroids]] — `iters = 0` is the sampled,
    * oracle-replayable quantizer; `iters > 0` the deterministic-Lloyd
    * production one), then compare pairs ONLY within a cluster and flag
    * those above [[CosMin]], keeping the lower vec_id. Complementary to
    * [[embeddingNearDupOf]]'s SRP buckets: clusters give each vector ONE
    * partition (no cross-table candidate union) and the cluster id is
    * the natural partition key for the 100 TB layout; the published
    * algorithm sizes K so within-cluster pairs stay tractable (√N-ish
    * clusters), which is exactly the centroid-count seam.
    *
    * Scale shape: assignment is the IVF assignment kernel
    * ([[Similarity.assignOf]] — broadcast centroids, O(K) flops per
    * vector, no shuffle, the vector carried through); the candidate
    * generator is an equi-join on cid — never all-pairs across
    * clusters; exact cosine verifies inside the join projection.
    */
  def semantic(spark: SparkSession, dir: String): DataFrame =
    semanticOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")))

  def semanticOf(emb: DataFrame, kmeansIters: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    // both sides of the cluster self-join read the materialized table —
    // without the cut the O(N·K) assignment kernel runs twice
    val withC = Materialize.Local(Similarity.assignOf(emb,
      Similarity.kmeansCentroids(emb, kmeansIters)))
    withC.as("A").join(withC.as("B"),
        col("A.cid") === col("B.cid")
          && col("A.vec_id") < col("B.vec_id"))
      .select(col("A.cid").as("cluster_id"),
        col("A.vec_id").as("vec_a"), col("B.vec_id").as("vec_b"),
        Hashing.cosineNative(spark, col("A.e"), col("B.e")).as("cos_sim"))
      .where(col("cos_sim") >= CosMin)
  }

  // ---- document BOW-embedding near-dup ----

  /** Hashed bag-of-bigrams dimensionality and output threshold (fixture
    * separation: random pairs max ≈ 0.52, planted near-dups ≥ 0.95).
    */
  val BowDims = 256
  val BowCosMin = 0.9

  /** Embedding-cosine near-dup applied to the documents themselves: each
    * doc becomes a [[BowDims]]-dim hashed bag-of-bigrams count vector
    * (feature hashing, md5-derived so the oracle rebuilds the identical
    * vectors), candidates come from the same SRP bucket join as the
    * embedding path, survivors verify with exact cosine. Text in,
    * vector-space dedup out — no external embedding model needed.
    */
  def bowCosine(spark: SparkSession, dir: String): DataFrame =
    bowFrom(cachedIdx(spark, dir, "bowvecs", widen = true)(
      bowVecKernel(docs(spark, dir))))

  def bowCosineOf(corpus: DataFrame): DataFrame =
    // `vecs` feeds the bucket kernel and both scoring sides
    bowFrom(Materialize.Local(bowVecKernel(corpus)))

  private[graft] def bowVecKernel(corpus: DataFrame): DataFrame = {
    val s = corpus.sparkSession; import s.implicits._
    corpus
      .select(col("doc_id"), toks.as("t"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, w) =>
          val v = new Array[Double](BowDims)
          var i = 0
          while (i < w.length - 1) {
            val h = Hashing.md5hash56Jvm(md, w(i) + " " + w(i + 1))
            v((h % BowDims).toInt) += 1.0
            i += 1
          }
          (id, v)
        }
      }
      .toDF("vec_id", "e")
  }

  private def bowFrom(vecs: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    val buckets =
      Hashing.srpBuckets(spark, vecs, SrpTables, SrpBits, BowDims)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.t") === col("y.t") && col("x.bkt") === col("y.bkt")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("da"), col("y.vec_id").as("db"))
      .distinct()
    cand
      .join(vecs.as("A"), col("da") === col("A.vec_id"))
      .join(vecs.as("B"), col("db") === col("B.vec_id"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        Hashing.cosineNative(spark, col("A.e"), col("B.e")).as("cos_sim"))
      .where(col("cos_sim") >= BowCosMin)
  }

  /** Apply dedup: the cleaned corpus. Removal policy — drop the
    * higher-id document of every verified near-dup pair (and exact-dup
    * non-survivors, subsumed: an exact dup is a Jaccard-1 pair). A doc
    * is kept iff it never appears as the doc_b of a pair; simple,
    * deterministic, one anti-join. This is the step a pipeline actually
    * ships: corpus in, smaller corpus out.
    */
  def applyDedupOf(corpus: DataFrame): DataFrame =
    removeVictims(corpus, minhashLshOf(corpus))

  /** The one removal policy: anti-join out every doc_b of a pair. */
  private def removeVictims(corpus: DataFrame, pairs: DataFrame): DataFrame =
    corpus.join(
      pairs.select(col("doc_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
      .select("doc_id")

  /** Near-dup CLUSTERS: connected components of the verified-pair graph,
    * labeled by the component's minimum doc_id — the step between "pairs"
    * and "survivors" in a real pipeline (transitive near-dups A≈B≈C must
    * land in ONE cluster even when (A, C) itself fell under the
    * threshold). Iterative min-label propagation: each round every node
    * takes min(own label, neighbors' labels) — two shuffles per round
    * (the join and the min-aggregate), converging in O(component
    * diameter) rounds, and near-dup components are dense (clique-ish), so
    * diameter is tiny; at extreme scale the same loop upgrades to
    * alternating large-star/small-star (O(log n) rounds) without changing
    * the output contract. The driver-side loop state is ONE long (the
    * changed-label count) — the M5 iterate-to-convergence shape.
    * Output: (doc_id, cluster_id) for every doc in ≥ 1 pair.
    */
  def clustersOf(pairs: DataFrame): DataFrame = {
    // an un-cut label table would embed every previous round's plan —
    // lineage doubles per iteration and the convergence count recomputes
    // the whole history; every round cuts with the session strategy
    val mat = Materialize.session(pairs.sparkSession)
    val edges = mat(pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct())
    var labels = mat(edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")))
    var changed = 1L
    while (changed > 0) {
      val prop = edges.join(labels, col("b") === col("id"))
        .groupBy(col("a").as("nid")).agg(min(col("lbl")).as("nlbl"))
      val next = mat(labels.join(prop, col("id") === col("nid"), "left")
        .select(col("id"), least(col("lbl"),
          coalesce(col("nlbl"), col("lbl"))).as("lbl")))
      changed = next.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .where(col("n.lbl") =!= col("o.lbl")).count()
      // the superseded round's blocks are dead once `changed` is counted;
      // without this, checkpoint storage grows linearly with rounds
      Materialize.release(labels)
      labels = next
    }
    Materialize.release(edges)
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Fixture entry: components of the minhash near-dup graph. The
    * membership table rides the session index cache (like the band
    * index it derives from): four entries — clusters, keep-best, its
    * applied form, the size histogram — read the same components, and
    * a real pipeline materializes them once per pass rather than
    * re-running the label-propagation loop. Builds directly against
    * the cache (not [[cachedIdx]], which would re-checkpoint the
    * already-checkpointed loop output — two full copies of a
    * corpus-scale table and one extra materialization job): the
    * loop's own final-round checkpoint IS the cached copy (its
    * rename projection is transparent to [[Materialize.release]], so
    * invalidation reclaims it like any other entry).
    */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    indexCache.getOrBuild(spark, dir, "clusters")(
      clustersOf(minhashLsh(spark, dir)))

  /** Cluster-size distribution — the dedup QA report a pipeline records
    * per pass: how many near-dup components of each size exist (pairs
    * vs long transitive chains — the shape that decides between the
    * drop-doc_b and keep-best policies). Two partial-aggregated
    * group-bys over the (already component-scale) membership table.
    */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame =
    clusterSizesOf(clusters(spark, dir))

  def clusterSizesOf(cl: DataFrame): DataFrame =
    cl.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"))

  def applyDedup(spark: SparkSession, dir: String): DataFrame =
    // rides the session-cached shingle/band index via minhashLsh
    removeVictims(docs(spark, dir), minhashLsh(spark, dir))

  /** Canonical-representative selection — the "which copy survives"
    * policy a pipeline applies after [[clustersOf]]: per cluster keep
    * the member with the MOST content (token count), ties to the
    * smallest doc_id. One equi-join (cluster table ⋈ corpus sizes) and
    * one aggregation whose arg-min rides a single struct-ordered
    * `min((−len, doc_id))` — partial-aggregable, so the shuffle carries
    * one row per cluster, never the membership lists.
    */
  def keepBest(spark: SparkSession, dir: String): DataFrame =
    keepBestOf(docs(spark, dir), clusters(spark, dir))

  /** The cleaned corpus under the keep-best policy: documents in no
    * near-dup cluster pass through; each cluster contributes exactly
    * its [[keepBestOf]] representative. Contrast [[applyDedup]]'s
    * simpler drop-every-doc_b rule, which can drop BOTH sides of a
    * transitive chain's middle link — the cluster-aware policy keeps
    * exactly one survivor per component by construction. One anti-join
    * + a rep semi-join, both on the key.
    */
  def applyKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val corpus = docs(spark, dir)
    val cl = clusters(spark, dir)
    val reps = keepBestOf(corpus, cl)
      .select(col("rep_doc_id").as("doc_id"))
    corpus.select("doc_id")
      .join(cl.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(reps)
  }

  /** [[keepBestOf]] with the survivor policy swapped from "most tokens"
    * to an external per-doc score (the RefinedWeb-style "keep the
    * highest-QUALITY copy" rule — [[Quality]]'s learned probe score in
    * the `llm_dedup_keep_scored` entry): per cluster the member with the
    * max score, ties to the smallest doc_id. Same partial-aggregable
    * arg-min-struct shuffle shape — one row per cluster moves, never
    * the membership. Members without a score row (no feature row under
    * the probe's ≥ 2-token contract) don't compete.
    */
  def keepScoredOf(scores: DataFrame, clusterTable: DataFrame)
      : DataFrame =
    clusterTable
      .join(scores.select(col("doc_id"), col("score")), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(
        min(struct((-col("score")).as("neg"), col("doc_id").as("d")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("best.d").as("rep_doc_id"),
        (-col("best.neg")).as("rep_score"), col("n_members"))

  def keepBestOf(corpus: DataFrame, clusterTable: DataFrame): DataFrame =
    clusterTable
      .join(corpus.select(col("doc_id"),
        size(toks).cast("long").as("n_toks")), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(
        min(struct((-col("n_toks")).as("neg_len"), col("doc_id").as("d")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("best.d").as("rep_doc_id"),
        (-col("best.neg_len")).as("rep_tokens"), col("n_members"))

  /** Shortest shared run [[spanAlign]] reports, in TOKENS (a run of r
    * consecutive 4-gram shingles covers r + 3 tokens).
    */
  val AlignMinTokens = 8L

  /** Pairwise span ALIGNMENT: for every document pair sharing at least
    * one (non-ubiquitous) positional 4-gram, the LONGEST run of
    * consecutive shared shingles — i.e. the longest common token
    * substring of length ≥ [[AlignMinTokens]] — with its start offset
    * in both documents. This is the attribution/plagiarism EVIDENCE
    * the document-level families can't give: [[ngramJaccard]] says two
    * docs overlap, [[spanDedup]] removes corpus-ubiquitous blocks;
    * this says "tokens 17..41 of A are tokens 3..27 of B".
    *
    * The run extraction is the gaps-and-islands identity: shared
    * shingle occurrences (i_a, i_b) with equal diagonal i_a − i_b and
    * consecutive i_a form one run, so grouping matches by
    * (pair, diagonal, i_a − row_number) turns each maximal run into
    * one aggregate row — no iterative extension, no UDF. Windows
    * partition on (pair, diagonal); the positional join is shingle-
    * bucketed with shingles of occurrence-count > [[NgramStopDf]]
    * excluded ON BOTH SIDES AND IN THE ORACLE (a defined semantic, not
    * a lossy shortcut: a run through ubiquitous boilerplate splits at
    * the hot shingle — the skew guard is part of the contract).
    * Tie-break: longest run, then smallest diagonal, then smallest
    * start.
    */
  def spanAlign(spark: SparkSession, dir: String): DataFrame =
    spanAlignOf(docs(spark, dir))

  def spanAlignOf(corpus: DataFrame): DataFrame = {
    val pos = corpus.select(col("doc_id"), toks.as("t"))
      .where(size(col("t")) >= 4)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 4), i -> named_struct(" +
          "'p', i, 'g', concat_ws(' ', slice(t, i + 1, 4))))")).as("x"))
      .select(col("doc_id"), col("x.p").as("p"), col("x.g").as("g"))
    val cold = pos
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .where(col("df") <= NgramStopDf)
    val m = cold.as("x").join(cold.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        col("x.p").as("ia"), (col("x.p") - col("y.p")).as("diag"))
    val runs = m
      .withColumn("isl", col("ia") - row_number().over(
        Window.partitionBy("da", "db", "diag").orderBy("ia")))
      .groupBy("da", "db", "diag", "isl")
      .agg(count(lit(1)).as("run"), min(col("ia")).as("a0"))
    runs.groupBy("da", "db")
      .agg(max(struct(col("run"), (-col("diag")).as("ndiag"),
        (-col("a0")).as("nstart"))).as("b"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        (col("b.run") + 3L).cast("long").as("lcs_tokens"),
        (-col("b.nstart")).cast("long").as("a_start"),
        (-col("b.nstart") + col("b.ndiag")).cast("long").as("b_start"))
      .where(col("lcs_tokens") >= AlignMinTokens)
  }

  // ---- corpus-wide duplicated-span removal ----

  /** Non-overlapping span width (tokens) for [[spanDedup]]. */
  val SpanWidth = 8

  /** Exact duplicated-span removal (the substring-dedup step of
    * CCNet/RefinedWeb-style pipelines): cut each document into
    * consecutive [[SpanWidth]]-token blocks, drop every block whose
    * text occurs in MORE THAN ONE document, re-join the survivors in
    * document order. Unlike the document-level families above this
    * removes boilerplate shared by otherwise-distinct documents without
    * dropping the documents themselves; documents reduced to nothing
    * come back as empty text (n_kept = 0), ready for a length gate.
    *
    * Scale shape: blocks meet their corpus-wide doc-frequency through an
    * equi-join on md5(block) — a fixed-width hash key, never the text,
    * never all-pairs; reassembly is one groupBy(doc_id) over ≤ n/width
    * blocks per doc with a row-local sort. One map-side-combined df
    * aggregation, one hash join, one reassembly shuffle.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupOf(docs(spark, dir))

  def spanDedupOf(corpus: DataFrame): DataFrame = {
    // per-doc block count is row-local arithmetic — carry it instead of
    // re-aggregating the exploded blocks a third time at corpus scale
    val withN = corpus.select(col("doc_id"), toks.as("t"))
      .withColumn("n_blocks",
        expr(s"(size(t) + ${SpanWidth - 1}) div $SpanWidth"))
    val blocks = withN
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")), lit(SpanWidth)))
          .as("start"))
      .select(col("doc_id"), col("start"),
        concat_ws(" ", slice(col("t"), col("start"), lit(SpanWidth)))
          .as("blk"))
      .withColumn("h", md5(col("blk")))
    val bdf = blocks.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("bdf"))
    val kept = blocks.join(bdf, "h").where(col("bdf") === 1)
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(
          sort_array(collect_list(struct(col("start"), col("blk")))),
          s => s.getField("blk")), " ").as("clean_text"))
    withN.select("doc_id", "n_blocks")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Methods [[dedupRecall]] audits, alphabetical. */
  val DedupRecallMethods = Seq("bow", "minhash", "simhash")

  /** Dedup-method audit — the [[graft.operators.Similarity.simRecall]]
    * framing applied to the dedup family: with the exact 4-gram-Jaccard
    * pairs ([[ngramJaccard]] — no signature approximation, every value
    * exact) as the reference, how much of it does each production
    * method recover (recall), and how much of what each method flags is
    * in the reference (precision)? The methods intentionally keep their
    * SHIPPED settings (minhash: banded 3-shingle signatures @ J ≥ 0.8;
    * simhash: Hamming ≤ 7 on 56-bit; bow: SRP-bucketed cosine ≥ its
    * threshold), so the table prices the real configurations against
    * one reference definition — the number a pipeline owner reads
    * before choosing which dedup pass to trust at 100 TB.
    *
    * Shape: the reference pair set is cut once (localCheckpoint) and
    * feeds both the denominator and the semi-join probe; all methods
    * union into ONE tagged stream for the size and hit counts.
    */
  def dedupRecall(spark: SparkSession, dir: String): DataFrame =
    recallFrom(ngramJaccard(spark, dir), Seq(
      "bow" -> bowCosine(spark, dir),
      "minhash" -> minhashLsh(spark, dir),
      "simhash" -> simhashPairs(spark, dir)))

  /** Spec seam: the same audit over any (doc_id, text) corpus — the
    * fixture's planted dups are easy for every method (all 1.0), so the
    * spec runs this on borderline pairs where the methods disagree.
    */
  def dedupRecallOf(corpus: DataFrame): DataFrame =
    recallFrom(ngramJaccardOf(corpus), Seq(
      "bow" -> bowCosineOf(corpus),
      "minhash" -> minhashLshOf(corpus),
      "simhash" -> simhashPairsOf(corpus)))

  private def recallFrom(reference: DataFrame,
      methods: Seq[(String, DataFrame)]): DataFrame = {
    val exact = reference.select("doc_a", "doc_b").localCheckpoint()
    val total = exact.agg(count(lit(1)).as("n_ref"))
    val approx = methods
      .map { case (m, df) =>
        df.select(lit(m).as("method"), col("doc_a"), col("doc_b"))
      }.reduce(_.unionByName(_))
    val sizes = approx.groupBy("method").agg(count(lit(1)).as("n_method"))
    val hits = approx.join(exact, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy("method").agg(count(lit(1)).as("n_hit"))
    val spark = reference.sparkSession
    val s = spark; import s.implicits._
    val nm = coalesce(col("n_method"), lit(0L))
    val nh = coalesce(col("n_hit"), lit(0L))
    methods.map(_._1).toDF("method")
      .join(sizes, Seq("method"), "left")
      .join(hits, Seq("method"), "left")
      .crossJoin(broadcast(total))
      .select(col("method"), col("n_ref"), nm.as("n_method"),
        nh.as("n_hit"),
        (nh.cast("double") / col("n_ref").cast("double")).as("recall"),
        when(nm === 0L, lit(0.0))
          .otherwise(nh.cast("double") / nm.cast("double"))
          .as("precision"))
  }

  // ---- blocked fuzzy (edit-distance) join — entity resolution ----

  /** Fuzzy-join edit budget: pairs within ≤ K edits on the match key. */
  val FuzzyK = 2

  /** Match-key width (chars) and aligned-segment width: K+1 = 3
    * segments of 8, the classic ER blocking layout — ≤ K substitutions
    * leave at least one aligned segment untouched (pigeonhole), and
    * indel-shifted survivors still mostly share one (blocking is a
    * recall heuristic by design; [[fuzzyRecall]] prices it).
    */
  val FuzzyKeyLen = 24
  val FuzzySegLen = 8

  /** Hot-block guard: aligned segments shared by more doc-keys than
    * this are dropped from candidate generation (the [[NgramStopDf]]
    * skew discipline — a boilerplate prefix like "customer" must not
    * quadratically pair everything that shares it). No-op on the
    * fixture (max observed block df: 23 at sf0.01), so the oracle
    * replays it exactly.
    */
  val FuzzyStopDf = 64

  /** Blocked fuzzy self-join over the document match key (the
    * lowercased first [[FuzzyKeyLen]] chars): all pairs within
    * [[FuzzyK]] edits that share at least one aligned
    * [[FuzzySegLen]]-char block — the entity-resolution operator
    * (record linkage, near-identical titles/headers) built the way
    * production ER does it: BLOCK (equi-join on (segment index,
    * segment), never all-pairs), GUARD the hot blocks, VERIFY with the
    * exact `levenshtein` (built-in, codegen'd; identical in DuckDB).
    * (da, db, lev).
    */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame =
    fuzzyJoinOf(docs(spark, dir))

  def fuzzyJoinOf(corpus: DataFrame): DataFrame = {
    val cand = fuzzyCandidatesOf(corpus)
    val k = fuzzyKeys(corpus)
    cand
      .join(k.select(col("doc_id").as("da"), col("k").as("ka")), "da")
      .join(k.select(col("doc_id").as("db"), col("k").as("kb")), "db")
      .select(col("da"), col("db"),
        levenshtein(col("ka"), col("kb")).cast("long").as("lev"))
      .where(col("lev") <= FuzzyK)
  }

  private[graft] def fuzzyKeys(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
      lower(substring(col("text"), 1, FuzzyKeyLen)).as("k"))

  /** Candidate pairs (da < db) sharing a cold aligned block — exposed
    * for the skew spec: candidate volume stays linear in block sizes.
    */
  private[graft] def fuzzyCandidatesOf(corpus: DataFrame): DataFrame = {
    val seg = fuzzyKeys(corpus)
      .select(col("doc_id"), explode(array((0 until FuzzyK + 1).map {
        i => struct(lit(i).as("i"),
          substring(col("k"), 1 + FuzzySegLen * i, FuzzySegLen)
            .as("s"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("b.i").as("i"), col("b.s").as("s"))
    val cold = seg
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy("i", "s")))
      .where(col("df") <= FuzzyStopDf)
    cold.as("x").join(cold.as("y"),
        col("x.i") === col("y.i") && col("x.s") === col("y.s")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
  }

  /** Sample size for the fuzzy-blocking recall audit: the [[FuzzyK]]
    * budget's ground truth needs all-pairs verification, so it runs on
    * a BOUNDED deterministic sample (md5-smallest docs via
    * TakeOrdered — never rate-based, which would grow quadratic work
    * with the corpus).
    */
  val FuzzySample = 256

  /** Prices the blocking heuristic: on the [[FuzzySample]]-doc
    * md5-deterministic sample, ALL O(sample²) pairs are verified
    * exactly (the bounded ground truth), then classified by whether
    * blocked candidate generation would have surfaced them — the
    * recall audit ER ships next to its join, same framing as
    * `llm_dedup_recall`. One row: (n_docs, n_true, n_found, n_missed).
    */
  def fuzzyRecall(spark: SparkSession, dir: String): DataFrame =
    fuzzyRecallOf(docs(spark, dir))

  def fuzzyRecallOf(corpus: DataFrame): DataFrame = {
    val sample = corpus
      .withColumn("u", graft.functions.Md5Uniform.uniform(col("doc_id")))
      .orderBy(col("u"), col("doc_id")).limit(FuzzySample)
      .select("doc_id", "text")
    val k = fuzzyKeys(sample)
    // bounded 256-row broadcast self-product — the ground truth
    val truth = k.select(col("doc_id").as("da"), col("k").as("ka"))
      .crossJoin(broadcast(
        k.select(col("doc_id").as("db"), col("k").as("kb"))))
      .where(col("da") < col("db")
        && levenshtein(col("ka"), col("kb")) <= FuzzyK)
      .select("da", "db")
    val found = fuzzyJoinOf(sample).select("da", "db")
    truth.join(found.withColumn("hit", lit(1L)), Seq("da", "db"), "left")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .select(lit(FuzzySample.toLong).as("n_docs"), col("n_true"),
        col("n_found"),
        (col("n_true") - col("n_found")).as("n_missed"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_fuzzy_join" -> fuzzyJoin,
    "llm_fuzzy_recall" -> fuzzyRecall,
    "llm_dedup_recall" -> dedupRecall,
    "llm_dedup_spans" -> spanDedup,
    "llm_dedup_apply" -> applyDedup,
    "llm_dedup_clusters" -> clusters,
    "llm_dedup_cluster_sizes" -> clusterSizes,
    "llm_dedup_keep_best" -> keepBest,
    "llm_dedup_apply_best" -> applyKeepBest,
    "llm_dedup_exact" -> exact,
    "llm_dedup_minhash" -> minhashLsh,
    "llm_dedup_incremental" -> minhashIncremental,
    "llm_dedup_ngram" -> ngramJaccard,
    "llm_dedup_prefix" -> ngramJaccardPrefix,
    "llm_dedup_containment" -> containment,
    "llm_dedup_span_align" -> spanAlign,
    "llm_dedup_simhash" -> simhashPairs,
    "llm_dedup_embedding" -> embeddingNearDup,
    "llm_dedup_semantic" -> semantic,
    "llm_dedup_bow_cosine" -> bowCosine
  )

  /** Shared oracle scaffolding: tokenized docs + n-gram shingle lists
    * (the [[Shingles]] convention in SQL).
    */
  private def shSql(n: Int): String = Shingles.shSql(n)

  /** All-pairs exact Jaccard ≥ threshold — the minhash contract, shared
    * by the `llm_dedup_minhash` entry and (as a subquery) the clusters
    * oracle.
    */
  private val minhashPairsOracleSql: String =
    s"""WITH ${shSql(3)},
       |pairs AS (
       |  SELECT a.doc_id da, b.doc_id db,
       |    len(list_intersect(a.s, b.s)) i, len(a.s) la, len(b.s) lb
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |)
       |SELECT da AS doc_a, db AS doc_b,
       |  i::DOUBLE / (la + lb - i)::DOUBLE AS jaccard
       |FROM pairs
       |WHERE i::DOUBLE / (la + lb - i)::DOUBLE >= $JaccardMinhash"""
      .stripMargin

  /** Connected components of the near-dup pair graph via a recursive
    * CTE (UNION dedups, so a k-clique costs k² reach rows, not k!
    * paths); the iterative Spark label propagation must converge to
    * the identical min-label-per-component answer. Shared by the
    * `llm_dedup_clusters` entry and (as a subquery) `llm_dedup_keep_best`.
    */
  private val ngramOracleSql: String =
    s"""WITH ${shSql(4)},
       |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |inter AS (
       |  SELECT a.doc_id da, b.doc_id db, count(*) i
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |sz AS (SELECT doc_id, len(s) n FROM sh)
       |SELECT da AS doc_a, db AS doc_b,
       |  i::DOUBLE / (sa.n + sb.n - i)::DOUBLE AS jaccard
       |FROM inter JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
       |WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= $JaccardNgram"""
      .stripMargin

  private val clustersOracleSql: String =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM (PAIRS_SQL)),
       |edges AS (SELECT doc_a a, doc_b b FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |)
       |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a"""
      .stripMargin.replace("PAIRS_SQL", minhashPairsOracleSql)

  /** Shared fuzzy-join SQL over a doc source: key → aligned cold
    * blocks → distinct candidates → exact levenshtein verify.
    */
  private def fuzzySql(src: String): String = {
    val segs = (0 until FuzzyK + 1)
      .map(i => s"($i, 1 + ${FuzzySegLen * i})").mkString(", ")
    s"""fk AS (
       |  SELECT doc_id, lower(substring(text, 1, $FuzzyKeyLen)) AS k
       |  FROM $src),
       |seg AS (
       |  SELECT doc_id, t.i, substring(k, t.off, $FuzzySegLen) AS s
       |  FROM fk, (VALUES $segs) t(i, off)),
       |cold AS (
       |  SELECT doc_id, i, s FROM (
       |    SELECT *, count(*) OVER (PARTITION BY i, s) AS df FROM seg)
       |  WHERE df <= $FuzzyStopDf),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM cold a JOIN cold b
       |    ON a.i = b.i AND a.s = b.s AND a.doc_id < b.doc_id),
       |fz AS (
       |  SELECT da, db, levenshtein(ka.k, kb.k)::BIGINT AS lev
       |  FROM cand JOIN fk ka ON cand.da = ka.doc_id
       |    JOIN fk kb ON cand.db = kb.doc_id
       |  WHERE levenshtein(ka.k, kb.k) <= $FuzzyK)""".stripMargin
  }

  /** The [[bowVecKernel]] vectors in DuckDB — `vecs(vec_id, e)` with
    * `e` the [[BowDims]]-dim hashed bag-of-bigrams counts in index
    * order. Shared (not copied) by the `llm_dedup_bow_cosine` oracle
    * and [[Quality]]'s `llm_quality_train` oracle, so the vector
    * spelling can never drift between the two entries.
    */
  private[operators] val bowVecsSqlCtes: String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |big AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
       |  FROM tok WHERE len(t) >= 2
       |),
       |dims AS (
       |  SELECT doc_id,
       |    (('0x' || substr(md5(g), 1, 14))::BIGINT % $BowDims) AS d,
       |    count(*) AS c
       |  FROM big GROUP BY 1, 2
       |),
       |grid AS (
       |  SELECT doc_id, unnest(range(0, $BowDims)) AS i
       |  FROM (SELECT DISTINCT doc_id FROM documents) dd
       |),
       |vecs AS (
       |  SELECT g.doc_id AS vec_id,
       |    list(coalesce(dims.c, 0)::DOUBLE ORDER BY g.i) AS e
       |  FROM grid g LEFT JOIN dims
       |    ON g.doc_id = dims.doc_id AND g.i = dims.d
       |  GROUP BY g.doc_id
       |)""".stripMargin

  private val baseOracle: Map[String, String] = Map(
    "llm_fuzzy_join" ->
      s"""WITH ${fuzzySql("documents")}
         |SELECT da, db, lev FROM fz""".stripMargin,
    "llm_fuzzy_recall" ->
      s"""WITH sample AS (
         |  SELECT doc_id, text FROM documents
         |  ORDER BY ${graft.functions.Md5Uniform.sql("doc_id")}, doc_id
         |  LIMIT $FuzzySample),
         |${fuzzySql("sample")},
         |truth AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM fk a JOIN fk b ON a.doc_id < b.doc_id
         |    AND levenshtein(a.k, b.k) <= $FuzzyK)
         |SELECT $FuzzySample::BIGINT AS n_docs,
         |  count(*)::BIGINT AS n_true,
         |  sum(CASE WHEN f.da IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_found,
         |  (count(*) - sum(CASE WHEN f.da IS NOT NULL THEN 1 ELSE 0
         |    END))::BIGINT AS n_missed
         |FROM truth t LEFT JOIN fz f
         |  ON t.da = f.da AND t.db = f.db""".stripMargin,
    "llm_dedup_apply_best" ->
      s"""WITH cl AS ($clustersOracleSql),
         |sz AS (SELECT doc_id,
         |         len(string_split(text, ' '))::BIGINT AS n_toks
         |       FROM documents)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cl)
         |UNION ALL
         |SELECT doc_id
         |FROM (SELECT cl.doc_id,
         |        row_number() OVER (PARTITION BY cl.cluster_id
         |          ORDER BY sz.n_toks DESC, cl.doc_id) AS rk
         |      FROM cl JOIN sz USING (doc_id))
         |WHERE rk = 1""".stripMargin,
    "llm_dedup_keep_best" ->
      s"""WITH cl AS ($clustersOracleSql),
         |sz AS (SELECT doc_id,
         |         len(string_split(text, ' '))::BIGINT AS n_toks
         |       FROM documents)
         |SELECT cluster_id, doc_id AS rep_doc_id, n_toks AS rep_tokens,
         |  n_members
         |FROM (SELECT cl.cluster_id, cl.doc_id, sz.n_toks,
         |        count(*) OVER (PARTITION BY cl.cluster_id) AS n_members,
         |        row_number() OVER (PARTITION BY cl.cluster_id
         |          ORDER BY sz.n_toks DESC, cl.doc_id) AS rk
         |      FROM cl JOIN sz USING (doc_id))
         |WHERE rk = 1""".stripMargin,
    "llm_dedup_spans" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
         |            FROM documents),
         |b AS (SELECT doc_id, start,
         |        array_to_string(
         |          list_slice(t, start, start + ${SpanWidth - 1}), ' ') AS blk
         |      FROM (SELECT doc_id, t,
         |              unnest(range(1, len(t) + 1, $SpanWidth)) AS start
         |            FROM tok)),
         |bdf AS (SELECT md5(blk) AS h, count(DISTINCT doc_id) AS bdf
         |        FROM b GROUP BY 1),
         |kept AS (SELECT doc_id, start, blk
         |         FROM b JOIN bdf ON md5(blk) = h WHERE bdf = 1),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          array_to_string(list(blk ORDER BY start), ' ')
         |            AS clean_text
         |        FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_blocks FROM b GROUP BY doc_id)
         |SELECT tot.doc_id, n_blocks,
         |  coalesce(n_kept, 0)::BIGINT AS n_kept,
         |  coalesce(clean_text, '') AS clean_text
         |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id""".stripMargin,
    // one removal policy, one pairs contract: reuse the shared pairs SQL
    "llm_dedup_apply" ->
      s"""SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT doc_b FROM ($minhashPairsOracleSql))""".stripMargin,
    "llm_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |  min(doc_id) AS keep_doc_id
        |FROM documents GROUP BY 1""".stripMargin,
    "llm_dedup_clusters" -> clustersOracleSql,
    "llm_dedup_cluster_sizes" ->
      s"""WITH cl AS ($clustersOracleSql)
         |SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters
         |FROM (SELECT cluster_id, count(*)::BIGINT AS sz
         |      FROM cl GROUP BY 1)
         |GROUP BY 1""".stripMargin,
    // All-pairs exact Jaccard — the LSH plan must reproduce it exactly.
    "llm_dedup_minhash" -> minhashPairsOracleSql,
    // All-pairs exact cross-set Jaccard — the incremental banded plan
    // must reproduce it exactly (same split: doc_id % 10 == 0 is "new").
    "llm_dedup_incremental" ->
      s"""WITH ${shSql(3)},
         |pairs AS (
         |  SELECT a.doc_id da, b.doc_id db,
         |    len(list_intersect(a.s, b.s)) i, len(a.s) la, len(b.s) lb
         |  FROM sh a JOIN sh b ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
         |)
         |SELECT da AS new_doc_id, db AS corpus_doc_id,
         |  i::DOUBLE / (la + lb - i)::DOUBLE AS jaccard
         |FROM pairs
         |WHERE i::DOUBLE / (la + lb - i)::DOUBLE >= $JaccardMinhash"""
        .stripMargin,
    "llm_dedup_ngram" -> ngramOracleSql,
    // the EXACT same oracle on purpose: hash equality proves the prefix
    // index drops no qualifying pair (see ngramJaccardPrefix)
    "llm_dedup_prefix" -> ngramOracleSql,
    "llm_dedup_span_align" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, i - 1 AS p,
         |    array_to_string(list_slice(t, i, i + 3), ' ') AS g
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 2)) AS i
         |        FROM tok WHERE len(t) >= 4)),
         |cold AS (
         |  SELECT * FROM (
         |    SELECT *, count(*) OVER (PARTITION BY g) AS df FROM pos)
         |  WHERE df <= $NgramStopDf),
         |m AS (
         |  SELECT x.doc_id AS da, y.doc_id AS db, x.p AS ia,
         |    x.p - y.p AS diag
         |  FROM cold x JOIN cold y
         |    ON x.g = y.g AND x.doc_id < y.doc_id),
         |i AS (
         |  SELECT *, ia - row_number() OVER (
         |    PARTITION BY da, db, diag ORDER BY ia) AS isl
         |  FROM m),
         |r AS (
         |  SELECT da, db, diag, isl, count(*)::BIGINT AS run,
         |    min(ia)::BIGINT AS a0
         |  FROM i GROUP BY 1, 2, 3, 4),
         |b AS (
         |  SELECT da, db, run, diag, a0, row_number() OVER (
         |    PARTITION BY da, db ORDER BY run DESC, diag, a0) AS rk
         |  FROM r)
         |SELECT da AS doc_a, db AS doc_b,
         |  (run + 3)::BIGINT AS lcs_tokens,
         |  a0::BIGINT AS a_start, (a0 - diag)::BIGINT AS b_start
         |FROM b WHERE rk = 1 AND run + 3 >= $AlignMinTokens"""
        .stripMargin,
    // all-DIRECTED-pairs oracle: hash equality proves the asymmetric
    // prefix probe drops no qualifying containment pair
    "llm_dedup_containment" ->
      s"""WITH ${shSql(4)},
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |inter AS (
         |  SELECT a.doc_id da, b.doc_id db, count(*)::BIGINT AS i
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |sz AS (SELECT doc_id, len(s)::BIGINT AS n FROM sh)
         |SELECT da AS doc_a, db AS doc_b, i AS inter,
         |  sa.n AS sz_a, sb.n AS sz_b,
         |  i::DOUBLE / sa.n::DOUBLE AS containment
         |FROM inter
         |JOIN sz sa ON sa.doc_id = da
         |JOIN sz sb ON sb.doc_id = db
         |WHERE $ContainDen * i >= $ContainNum * sa.n""".stripMargin,
    "llm_dedup_simhash" ->
      s"""WITH ${shSql(3)},
         |hv AS (SELECT doc_id,
         |  ('0x' || substr(md5(unnest(s)), 1, 14))::BIGINT AS h FROM sh),
         |bits AS (
         |  SELECT doc_id, b,
         |    CASE WHEN sum(((h >> b) & 1) * 2 - 1) > 0
         |      THEN (1::BIGINT << b) ELSE 0::BIGINT END AS v
         |  FROM hv, (SELECT unnest(range(0, $SimhashBits)) AS b) bb
         |  GROUP BY doc_id, b
         |),
         |sims AS (SELECT doc_id, sum(v)::BIGINT AS sim FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= $HammingMax""".stripMargin,
    "llm_dedup_embedding" ->
      s"""WITH ${Hashing.planesSqlCte(SrpTables, SrpBits, 64)},
         |proj AS (
         |  SELECT vec_id, t, p,
         |    list_reduce(list_transform(range(1, 65),
         |      i -> embedding[i]::DOUBLE * w[i]), (a, b) -> a + b) AS pr
         |  FROM embeddings, planes
         |),
         |buckets AS (
         |  SELECT vec_id, t,
         |    sum(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bkt
         |  FROM proj GROUP BY vec_id, t
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id va, b.vec_id vb
         |  FROM buckets a JOIN buckets b
         |    ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id
         |),
         |v AS (SELECT vec_id, embedding e FROM embeddings),
         |scored AS (
         |  SELECT va, vb, ${Hashing.cosineSql("a.e", "b.e", 64)} AS cos_sim
         |  FROM cand JOIN v a ON va = a.vec_id JOIN v b ON vb = b.vec_id
         |)
         |SELECT va AS vec_a, vb AS vec_b, cos_sim
         |FROM scored WHERE cos_sim >= $CosMin""".stripMargin,
    // the oracle replays the sampled quantizer (first NumCentroids
    // vectors) and the tie-toward-lower-cid assignment exactly
    "llm_dedup_semantic" ->
      s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings),
         |cents AS (SELECT vec_id AS cid, e AS ce FROM v
         |          WHERE vec_id < ${Similarity.NumCentroids}),
         |cscore AS (
         |  SELECT v.vec_id, cents.cid,
         |    ${Hashing.cosineSql("v.e", "cents.ce", 64)} AS c
         |  FROM v, cents),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, cid ASC) AS rn FROM cscore)
         |  WHERE rn = 1),
         |w AS (SELECT a.vec_id, a.cid, v.e
         |      FROM assign a JOIN v ON a.vec_id = v.vec_id),
         |scored AS (
         |  SELECT a.cid AS cluster_id, a.vec_id AS vec_a,
         |    b.vec_id AS vec_b,
         |    ${Hashing.cosineSql("a.e", "b.e", 64)} AS cos_sim
         |  FROM w a JOIN w b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT * FROM scored WHERE cos_sim >= $CosMin""".stripMargin,
    "llm_dedup_bow_cosine" ->
      s"""WITH $bowVecsSqlCtes,
         |${Hashing.planesSqlCte(SrpTables, SrpBits, BowDims)},
         |proj AS (
         |  SELECT vec_id, t, p,
         |    list_reduce(list_transform(range(1, ${BowDims + 1}),
         |      i -> e[i] * w[i]), (a, b) -> a + b) AS pr
         |  FROM vecs, planes
         |),
         |buckets AS (
         |  SELECT vec_id, t,
         |    sum(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bkt
         |  FROM proj GROUP BY vec_id, t
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id va, b.vec_id vb
         |  FROM buckets a JOIN buckets b
         |    ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id
         |),
         |scored AS (
         |  SELECT va, vb, ${Hashing.cosineSql("a.e", "b.e", BowDims)} AS cos_sim
         |  FROM cand JOIN vecs a ON va = a.vec_id JOIN vecs b ON vb = b.vec_id
         |)
         |SELECT va AS doc_a, vb AS doc_b, cos_sim
         |FROM scored WHERE cos_sim >= $BowCosMin""".stripMargin
  )

  /** [[baseOracle]] plus the recall audit, which nests four of its
    * entries verbatim (the [[graft.operators.Similarity]] recall-oracle
    * pattern) — built after the base map so the spellings are shared,
    * not copied.
    */
  val oracle: Map[String, String] = baseOracle + {
    def pairs(name: String) =
      s"(SELECT doc_a, doc_b FROM (${baseOracle(name)}) zz)"
    "llm_dedup_recall" ->
      s"""WITH exact AS ${pairs("llm_dedup_ngram")},
         |ap AS (
         |  SELECT 'bow' AS method, doc_a, doc_b
         |  FROM ${pairs("llm_dedup_bow_cosine")} a1
         |  UNION ALL
         |  SELECT 'minhash' AS method, doc_a, doc_b
         |  FROM ${pairs("llm_dedup_minhash")} a2
         |  UNION ALL
         |  SELECT 'simhash' AS method, doc_a, doc_b
         |  FROM ${pairs("llm_dedup_simhash")} a3
         |),
         |sizes AS (
         |  SELECT method, count(*)::BIGINT AS n_method FROM ap
         |  GROUP BY method),
         |hits AS (
         |  SELECT method, count(*)::BIGINT AS n_hit FROM ap
         |  WHERE EXISTS (SELECT 1 FROM exact e
         |                WHERE e.doc_a = ap.doc_a
         |                  AND e.doc_b = ap.doc_b)
         |  GROUP BY method),
         |tot AS (SELECT count(*)::BIGINT AS n_ref FROM exact)
         |SELECT m.method, tot.n_ref,
         |  coalesce(sizes.n_method, 0)::BIGINT AS n_method,
         |  coalesce(hits.n_hit, 0)::BIGINT AS n_hit,
         |  coalesce(hits.n_hit, 0)::DOUBLE / tot.n_ref::DOUBLE AS recall,
         |  CASE WHEN coalesce(sizes.n_method, 0) = 0 THEN 0.0e0
         |    ELSE coalesce(hits.n_hit, 0)::DOUBLE
         |      / sizes.n_method::DOUBLE END AS precision
         |FROM (VALUES ('bow'), ('minhash'), ('simhash')) m(method)
         |LEFT JOIN sizes ON m.method = sizes.method
         |LEFT JOIN hits ON m.method = hits.method
         |CROSS JOIN tot""".stripMargin
  }
}

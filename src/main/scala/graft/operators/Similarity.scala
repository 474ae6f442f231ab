package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor similarity search over
  * `embeddings.embedding` (SURVEY.md §2.11).
  *
  * Four plans for the same task shape (a query set scanned against a
  * corpus, top-k by cosine): the exact window baseline, the same answer
  * through the bounded-heap aggregate, and two index paths (SRP-LSH,
  * IVF). The two headline trade-offs:
  *
  *  - [[bruteForceTopK]] — the exact baseline: broadcast the (small)
  *    query set, scan the corpus partition-parallel, window top-k. The
  *    corpus is never shuffled for scoring; only the scored
  *    (query, neighbor) pairs move, and at 100 TB the refinement is a
  *    bounded-heap partial aggregate (TypedImperativeAggregate) so each
  *    partition forwards at most k rows per query instead of its whole
  *    score list.
  *  - [[lshTopK]] — the scale path: signed-random-projection buckets
  *    ([[LshTables]] tables × [[LshBits]] bits, md5-derived planes
  *    shared with the oracle via `Hashing`); only colliding pairs are
  *    scored. Approximate
  *    by design — and the DuckDB oracle replays the identical bucketing,
  *    so the approximation itself is verified, not hand-waved.
  *
  * Cosines are sequential-order IEEE doubles, bit-equal to the oracle;
  * ranking ties break on neighbor_id so the row_number is deterministic
  * in both engines. The partition-the-corpus / broadcast-the-queries /
  * prune-by-index decomposition follows the distributed top-k similarity
  * literature (PAPERS.md: REPOSE, ICDE 2021 — reference-point pruning;
  * Continuously Adaptive Similarity Search, SIGMOD 2020 — index-guided
  * candidate generation).
  */
object Similarity {

  /** Fixture query set: the first [[NumQueries]] vec_ids. Overridable
    * per session via [[graft.Conf]] `graft.sim.numQueries` (the oracle
    * pins the default; ConfKnobsSpec covers non-default values).
    */
  val NumQueries = 50
  val NumQueriesConf = "graft.sim.numQueries"
  val TopK = 5

  /** Conf-or-default query-set size for the fixture entries. */
  private def nq(spark: SparkSession): Long =
    graft.Conf.long(spark, NumQueriesConf, NumQueries)

  /** SRP-LSH layout, tuned against `llm_sim_recall` at sf0.01: the r6
    * 16×8-bit config measured recall 0.308; 6 bits = 0.588, 5 bits =
    * 0.764 (shipped). Fewer bits per table = wider buckets = more
    * collisions: recall rises while random collisions stay bounded at
    * ~[[LshTables]]/2^[[LshBits]] ≈ 50% of the corpus as candidates per
    * query in expectation — near-neighbor pairs collide far above that
    * floor, which is the whole hash-family bet.
    */
  val LshTables = 16
  val LshBits = 5

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  private val rankWindow =
    Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)

  /** Exact top-k: the (small, bounded) query set rides a broadcast to a
    * typed kernel that scans the corpus partition-parallel — the corpus
    * is never shuffled for scoring, only the scored pairs move into the
    * ranking window. Cosines come from `Hashing.cosineSeq`, bit-equal
    * to the oracle's sequential list arithmetic.
    */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame =
    bruteForceTopKOf(emb(spark, dir), nq(spark))

  /** The one broadcast-query pair kernel: the queries (ids <
    * nQueries, with their labels) ride a broadcast and every
    * (vec_id, e, label) corpus row is scored against them where it
    * lives. With `crossLabel` only pairs whose labels differ survive,
    * filtered INSIDE the kernel so excluded pairs never materialize.
    * (query_id, neighbor_id, neighbor_label, cos_sim).
    */
  private def pairsOf(corpusDf: DataFrame, nQueries: Long,
      crossLabel: Boolean): DataFrame = {
    val spark = corpusDf.sparkSession
    val s = spark; import s.implicits._
    val corpus = corpusDf.as[(Long, Array[Double], Int)]
    val queries = corpus.filter(_._1 < nQueries).collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(queries)
    corpus
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (nid, e, nlbl) =>
          qs.iterator
            .filter(q => q._1 != nid && !(crossLabel && q._3 == nlbl))
            .map { case (qid, qe, _) =>
              (qid, nid, nlbl, Hashing.cosineSeq(qe, e))
            }
        }
      }
      .toDF("query_id", "neighbor_id", "neighbor_label", "cos_sim")
  }

  /** All (query, neighbor, cosine) pairs of an unlabeled corpus. */
  private def scoredPairs(corpusDf: DataFrame, nQueries: Long): DataFrame =
    pairsOf(corpusDf.select(col(corpusDf.columns(0)),
      col(corpusDf.columns(1)), lit(0)), nQueries, crossLabel = false)
      .drop("neighbor_label")

  /** Any (vec_id, e: ARRAY<DOUBLE>) corpus; queries = ids < nQueries. */
  def bruteForceTopKOf(corpusDf: DataFrame, nQueries: Long): DataFrame =
    scoredPairs(corpusDf, nQueries)
      .withColumn("rank", row_number().over(rankWindow))
      .where(col("rank") <= TopK)

  // ---- linear-classifier scoring (model-based filtering) ----

  /** Deterministic pseudo-weights for the fixture classifier entry:
    * w_i = u("w:" + i) − 0.5 with the library's md5 uniform, computed
    * driver-side and interpolated into the oracle as shortest-repr
    * double literals (bit-identical on both engines). A real pipeline
    * hands [[classifyOf]] a trained θ (e.g. from [[Sgd]]); the weights
    * parameterize the plan, never its shape.
    */
  lazy val ClassifierWeights: Seq[Double] = (0 until 64).map { i =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"w:$i".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) / 4294967296.0 - 0.5
  }

  /** Classifier-based corpus scoring — the model-in-the-loop filtering
    * step (FineWeb-Edu-style quality classifiers, toxicity gates): every
    * vector scored against ONE broadcast weight vector through the
    * codegen'd [[graft.functions.DotProduct]] expression, flagged by
    * margin sign. Embarrassingly parallel: the weights are a literal in
    * the plan, the corpus never shuffles, and the margin stays LINEAR
    * (no exp/sigmoid — cross-engine libm rounding can differ; the sign
    * and any downstream threshold are identical either way).
    */
  def classify(spark: SparkSession, dir: String): DataFrame =
    classifyOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("label")), ClassifierWeights)

  def classifyOf(corpusDf: DataFrame, weights: Seq[Double]): DataFrame = {
    val spark = corpusDf.sparkSession
    val margin = graft.functions.DotProduct.dot(
      spark, col("e"), typedLit(weights))
    corpusDf.select(col("vec_id"), col("label"),
      margin.as("margin"), (margin > 0.0).as("pred"))
  }

  /** Hard-negative mining — the contrastive-training companion of
    * [[bruteForceTopK]]: for each query, the top-k most SIMILAR corpus
    * vectors with a DIFFERENT label (the near-misses that teach the
    * margin; same-label neighbors are positives, not negatives). Same
    * scale shape as the exact kernel: queries + their labels broadcast
    * (bounded), the corpus is scored where it lives with the label
    * filter applied INSIDE the kernel — excluded pairs never
    * materialize — and only surviving scored pairs enter the ranking
    * window.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegativesOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("label")), nq(spark))

  /** Any (vec_id, e: ARRAY<DOUBLE>, label: INT) corpus. */
  def hardNegativesOf(corpusDf: DataFrame, nQueries: Long): DataFrame =
    pairsOf(corpusDf, nQueries, crossLabel = true)
      .withColumn("rank", row_number().over(rankWindow))
      .where(col("rank") <= TopK)

  /** Same answer through the custom bounded-heap aggregate
    * ([[graft.functions.TopKAgg]]) instead of the ranking window: the
    * aggregate participates in partial aggregation, so each map task
    * forwards at most k pairs per query into the shuffle — O(queries×k)
    * shuffle volume where the window ships every scored pair. Tie order
    * (score DESC, id ASC) matches the window exactly; both share one
    * oracle.
    */
  def bruteForceTopKAggOf(corpusDf: DataFrame, nQueries: Long): DataFrame = {
    graft.functions.TopKAgg.register(corpusDf.sparkSession)
    scoredPairs(corpusDf, nQueries)
      .groupBy("query_id")
      .agg(expr(s"graft_topk(cos_sim, neighbor_id, $TopK)").as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.neighbor_id").as("neighbor_id"),
        col("t.cos_sim").as("cos_sim"), col("t.rank").as("rank"))
  }

  def bruteForceTopKAgg(spark: SparkSession, dir: String): DataFrame =
    bruteForceTopKAggOf(emb(spark, dir), nq(spark))

  /** LSH-bucketed top-k: score only bucket-colliding (query, neighbor)
    * pairs. Queries with no collision simply produce no rows — that is
    * the ANN recall trade, and the oracle prices it identically.
    */
  def lshTopK(spark: SparkSession, dir: String): DataFrame =
    lshTopKOf(emb(spark, dir), nq(spark))

  def lshTopKOf(corpusDf: DataFrame, nQueries: Long): DataFrame = {
    val spark = corpusDf.sparkSession
    // the query side buckets only the nq query rows: one kernel pass
    // over N + nq vectors, and no cut left behind
    def buckets(df: DataFrame) =
      Hashing.srpBuckets(spark, df, LshTables, LshBits)
    val cand = buckets(corpusDf.where(col("vec_id") < nQueries)).as("q")
      .join(buckets(corpusDf).as("n"),
        col("q.t") === col("n.t") && col("q.bkt") === col("n.bkt")
          && col("q.vec_id") =!= col("n.vec_id"))
      .select(col("q.vec_id").as("qid"), col("n.vec_id").as("nid"))
      .distinct()
    cand
      .join(corpusDf.as("A"), col("qid") === col("A.vec_id"))
      .join(corpusDf.as("B"), col("nid") === col("B.vec_id"))
      .select(col("qid").as("query_id"), col("nid").as("neighbor_id"),
        Hashing.cosineNative(spark, col("A.e"), col("B.e")).as("cos_sim"))
      .withColumn("rank", row_number().over(rankWindow))
      .where(col("rank") <= TopK)
  }

  /** IVF coarse-quantizer size and probe count. The quantizer seam is
    * [[kmeansCentroids]]: `iters = 0` yields the sampled seed (the
    * first [[NumCentroids]] corpus vectors); `iters > 0` runs
    * deterministic Lloyd refinement — DECIMAL-stable means, so the
    * refined quantizer is oracle-expressible too, and the fixture entry
    * runs [[IvfKmeansIters]] refinement steps behind the hash gate.
    * Assignment ties break toward the lower centroid id, identical to
    * the oracle's (cos DESC, cid ASC) row_number.
    *
    * Settings tuned against `llm_sim_recall` at sf0.01 (the r6 shipped
    * config, 2 probes over the raw sampled seed, measured 0.524):
    * probes 2→4 = 0.664, 6 = 0.748 (seed), +1 Lloyd iter @6 = 0.788,
    * +2 iters @6 = 0.796, +2 iters @7 = 0.828; a coarser 8-list/3-probe
    * layout at the same scanned fraction was worse (0.704). Shipped:
    * 16 lists × 7 probes × 2 Lloyd iters → recall 0.828, scoring ~44%
    * of the corpus per query (vs 100% brute-force) — the classic IVF
    * recall/fraction-scanned trade, now priced by the oracle end-to-end.
    */
  val NumCentroids = 16
  val NumCentroidsConf = "graft.sim.numCentroids"
  val NumProbes = 7

  // ---- the quantizer core: one trainer, one assignment, one probe ----

  /** Id of the centroid nearest `e`'s subvector at `off` (each
    * centroid's length of dims; 0 when none scores): the highest
    * [[Hashing.cosineSeq]] for a cosine quantizer (one subspace, the
    * whole vector), the lowest squared L2 for an `l2` one — the PQ
    * metric, where subvector norms matter. Distances accumulate in
    * ascending-index order, bit-equal to the oracle's list_reduce
    * folds; the FIRST best wins, so over a cid-ascending `cs` ties go
    * to the lower id, == the oracle's (score, cid ASC) row_number.
    */
  private def nearest(cs: Array[(Long, Array[Double])], e: Array[Double],
      off: Int, l2: Boolean): Long = {
    var best = Double.NegativeInfinity
    var bestC = 0L
    var c = 0
    while (c < cs.length) {
      val ce = cs(c)._2
      val s =
        if (!l2) Hashing.cosineSeq(e, ce)
        else {
          var d = 0.0
          var i = 0
          while (i < ce.length) {
            val t = e(off + i) - ce(i); d += t * t; i += 1
          }
          -d
        }
      if (s > best) { best = s; bestC = cs(c)._1 }
      c += 1
    }
    bestC
  }

  /** The one Lloyd trainer — the reference's per-partition fold then
    * global average, iterated (`multilinereg.java`). `subspaces`
    * quantizers over equal consecutive slices of each vector (1 = the
    * whole vector), each seeded with the first `k` vectors by vec_id —
    * so `iters = 0` IS the sampled quantizer, and fixture ids are
    * 0…k−1 — then `iters` steps under the cosine or `l2` metric of
    * [[nearest]]. A step assigns every slice of every vector against
    * the broadcast book in one typed pass and recomputes every
    * (subspace, cid) mean coordinate-wise in ONE aggregation grouped on
    * (subspace, cid, pos). The sums go through StableSum's DECIMAL
    * recipe — exact, order-independent addition — cast to double, THEN
    * one IEEE division: replayable verbatim by the oracle's dsumSql
    * (which is what lets the trained quantizers sit behind the hash
    * gate), and bit-identical under any partitioning or grouping.
    * Cosine is scale-invariant, so the unnormalized mean is a valid
    * spherical centroid. Empty lists keep their previous centroid.
    * Cost: one seed collect, then one job per step whatever the
    * subspace count; the driver holds the book and nothing else.
    */
  private def lloyd(corpusDf: DataFrame, k: Int, subspaces: Int,
      l2: Boolean, iters: Int): Array[Array[(Long, Array[Double])]] = {
    val spark = corpusDf.sparkSession
    val s = spark; import s.implicits._
    val corpus = corpusDf.as[(Long, Array[Double])]
    val seed = corpus.filter(_._1 < k).collect().sortBy(_._1)
    val w = if (seed.isEmpty) 0 else seed.head._2.length / subspaces
    var book = Array.tabulate(subspaces) { m =>
      seed.map { case (id, e) =>
        (id, java.util.Arrays.copyOfRange(e, m * w, (m + 1) * w))
      }
    }
    var i = 0
    while (i < iters && seed.nonEmpty) {
      val bc = spark.sparkContext.broadcast(book)
      val means = corpus
        .mapPartitions { it =>
          val bk = bc.value
          it.flatMap { case (_, e) =>
            Iterator.tabulate(bk.length) { m =>
              (m, nearest(bk(m), e, m * w, l2),
                java.util.Arrays.copyOfRange(e, m * w, (m + 1) * w))
            }
          }
        }
        .toDF("m", "cid", "e")
        .select(col("m"), col("cid"),
          posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy("m", "cid", "pos")
        .agg((graft.functions.StableSum.dsum(col("x"))
          / count(lit(1)).cast("double")).as("mean"))
        .groupBy("m", "cid")
        .agg(sort_array(collect_list(struct(col("pos"), col("mean"))))
          .as("pm"))
        .select(col("m"), col("cid"), col("pm.mean"))
        .as[(Int, Long, Array[Double])]
        .collect()
        .map { case (m, cid, mean) => (m, cid) -> mean }.toMap
      bc.destroy() // consumed by the collect above; don't accumulate
      book = book.zipWithIndex.map { case (cs, m) =>
        cs.map { case (cid, prev) =>
          (cid, means.getOrElse((m, cid), prev))
        }
      }
      i += 1
    }
    book
  }

  /** The one assignment kernel, the inverted-list build of every IVF
    * path: each (vec_id, e) row → (vec_id, cid, tag, e) with cid its
    * nearest centroid by cosine, `tag` (a LONG column of the corpus,
    * e.g. its label) passed through, and the vector carried through
    * `carry` (identity, or the PQ reconstruction) for the consumer that
    * scores or groups it. Centroids broadcast; O(centroids) flops per
    * vector, zero shuffles.
    */
  private[operators] def assignOf(corpusDf: DataFrame,
      cents: Array[(Long, Array[Double])],
      carry: Array[Double] => Array[Double] = identity,
      tag: Column = lit(0L)): DataFrame = {
    val spark = corpusDf.sparkSession
    val s = spark; import s.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    corpusDf.select(col(corpusDf.columns(0)), col(corpusDf.columns(1)), tag)
      .as[(Long, Array[Double], Long)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, e, t) =>
          (id, nearest(cs, e, 0, l2 = false), t, carry(e))
        }
      }
      .toDF("vec_id", "cid", "tag", "e")
  }

  /** The one probe kernel: each (vec_id, e) query → its [[NumProbes]]
    * nearest lists (qid, cid) by cosine, ties → lower cid — the exact
    * score-then-prune top-k of Continuously Adaptive Similarity Search
    * (PAPERS.md) over the broadcast centroids.
    */
  private def probesOf(queryDf: DataFrame,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    val spark = queryDf.sparkSession
    val s = spark; import s.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    queryDf.as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (qid, e) =>
          cs.map { case (cid, ce) => (cid, Hashing.cosineSeq(e, ce)) }
            .sortBy { case (cid, c) => (-c, cid) }
            .take(NumProbes)
            .map { case (cid, _) => (qid, cid) }
        }
      }
      .toDF("qid", "cid")
  }

  /** The one IVF serve: each (vec_id, e) row of `queryDf` probes its
    * [[NumProbes]] nearest lists of the `corpusDf` index built on
    * `cents`, and only those lists' members are scored — by exact
    * cosine, or with a PQ `book` by the ADC dot of the query against
    * each member's reconstruction. A query drawn from the corpus is not
    * its own neighbor. Assignment/probing are O(centroids) typed-kernel
    * flops per vector with the centroids broadcast; the only shuffles
    * are the candidate equi-join on the list id (at 100 TB the inverted
    * lists are the partition key — the classic ANN layout), the query
    * vector fetch and the per-query rank (WindowGroupLimit-eligible).
    */
  private def ivfServe(corpusDf: DataFrame, queryDf: DataFrame,
      cents: Array[(Long, Array[Double])],
      book: Option[Array[Array[(Long, Array[Double])]]] = None)
      : DataFrame = {
    val spark = corpusDf.sparkSession
    val (name, score, carry) = book match {
      case None => ("cos_sim",
        Hashing.cosineNative(spark, col("qe"), col("e")),
        identity[Array[Double]] _)
      case Some(b) =>
        val bc = spark.sparkContext.broadcast(b)
        ("pq_dot", graft.functions.DotProduct.dot(spark, col("qe"), col("e")),
          (e: Array[Double]) => pqReconstruct(bc.value, e))
    }
    probesOf(queryDf, cents)
      .join(assignOf(corpusDf, cents, carry), "cid")
      .where(col("qid") =!= col("vec_id"))
      .join(queryDf.select(col("vec_id").as("qid"), col("e").as("qe")),
        "qid")
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        score.as(name))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col(name).desc, col("neighbor_id").asc)))
      .where(col("rank") <= TopK)
  }

  /** Spherical-k-means coarse quantizer: [[lloyd]] with the cosine
    * metric over the whole vector, `iters` steps from the sampled seed
    * (the first `k` vectors by vec_id). Per step: one broadcast of K
    * vectors, one map pass, one partial-aggregated shuffle of N·dims
    * (cid, pos, x) rows — no driver-side data beyond the K centroids.
    */
  def kmeansCentroids(corpusDf: DataFrame, iters: Int,
                      k: Int = NumCentroids)
      : Array[(Long, Array[Double])] =
    lloyd(corpusDf, k, 1, l2 = false, iters)(0)

  /** Lloyd iterations behind the fixture IVF entry (and its oracle,
    * which unrolls them as CTEs).
    */
  val IvfKmeansIters = 2

  /** Session-lifetime trained quantizers per (session, dir, sub-key) —
    * the coarse IVF centroids keyed ("ivf", K) and the PQ codebook
    * keyed "pq"; the [[Quality]] probe-cache pattern: Lloyd training is
    * a driver loop that runs at plan-build time, so without this every
    * bench rep / every entry invocation retrains the quantizer it
    * already has. Same lifetime contract as the other session caches
    * (immutable fixture dirs, or invalidate at the boundary); the
    * cached value is the book of in-memory vectors, not a DataFrame.
    */
  private val bookCache =
    new graft.SessionCache[Array[Array[(Long, Array[Double])]]](_ => ())

  private def cachedCents(spark: SparkSession, dir: String)
      : Array[(Long, Array[Double])] = {
    // K is a session-conf knob; keying the cache on it means flipping
    // the conf mid-session retrains rather than serving a stale size
    val k = graft.Conf.int(spark, NumCentroidsConf, NumCentroids)
    bookCache.getOrBuild(spark, dir, ("ivf", k))(
      lloyd(emb(spark, dir), k, 1, l2 = false, IvfKmeansIters))(0)
  }

  /** IVF top-k: assign every vector to its nearest centroid (inverted
    * lists), probe the query's [[NumProbes]] nearest lists, score only
    * those candidates — [[ivfServe]] with the first nQueries vectors
    * as the query side.
    */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    ivfServe(corpus, corpus.where(col("vec_id") < nq(spark)),
      cachedCents(spark, dir))
  }

  def ivfTopKOf(corpusDf: DataFrame, nQueries: Long,
                kmeansIters: Int = 0): DataFrame =
    ivfServe(corpusDf, corpusDf.where(col("vec_id") < nQueries),
      kmeansCentroids(corpusDf, kmeansIters))

  /** Incremental ANN serving — the index-refresh cadence every vector
    * store runs: the IVF quantizer and inverted lists are built from
    * the EXISTING corpus only (even vec_ids here — the snapshot an
    * index was trained on), and a NEW batch (odd vec_ids) is served
    * against that index without retraining: each arriving vector
    * probes its [[NumProbes]] nearest cells and scores only their
    * members. The batch-vs-corpus sibling of
    * [[Dedup.minhashLshAgainstIndex]], for similarity serving instead
    * of dedup; neighbors always come from the index side
    * (spec-pinned).
    *
    * Scale shape: centroids train on the corpus snapshot (bounded
    * driver state, the FAISS pattern); the serve is [[ivfServe]] with
    * the batch as its query side.
    */
  def simIncremental(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    simIncrementalOf(
      all.where(col("vec_id") % 2 === 0),
      all.where(col("vec_id") % 2 =!= 0
        && col("vec_id") < lit(2 * nq(spark))),
      IvfKmeansIters)
  }

  def simIncrementalOf(corpusDf: DataFrame, batchDf: DataFrame,
                       kmeansIters: Int = 0): DataFrame =
    ivfServe(corpusDf, batchDf, kmeansCentroids(corpusDf, kmeansIters))

  /** Per-cluster sample cap for [[sampleCluster]]: at 16 clusters over
    * the sf0.01 fixture's 500 vectors (~31/cluster mean) a cap of 20
    * truncates the big clusters for real while keeping the small ones
    * whole — the behavior the op exists for.
    */
  val ClusterSampleCap = 20

  /** Cluster-balanced embedding sampling — the SemDeDup / DataComp-style
    * diversity cap: assign every vector to its nearest coarse-quantizer
    * centroid ([[assignOf]], the IVF assignment), then keep at most
    * [[ClusterSampleCap]] vectors per cluster, chosen by the library's
    * deterministic md5 order (the `llm_sample_topn` rule — a seedless,
    * engine-reproducible uniform draw). Dense regions of embedding
    * space — boilerplate, templates, near-dup clouds that survive
    * doc-level dedup — get capped; sparse regions pass through whole.
    * `cluster_n` carries the pre-cap size so the output doubles as the
    * cluster-population audit.
    *
    * Scale shape: assignment is O(centroids) typed-kernel flops per
    * vector with the centroid matrix broadcast (zero shuffle); the
    * per-cluster rank is ONE window whose `rk <= cap` filter Spark
    * rewrites to a WindowGroupLimit — each partition prunes to the top
    * cap rows per cluster BEFORE the exchange, so the shuffle carries
    * O(clusters · cap) rows per partition, not the corpus; the pre-cap
    * sizes are a map-side-combined count to K rows, broadcast back.
    */
  def sampleCluster(spark: SparkSession, dir: String): DataFrame =
    sampleClusterWith(emb(spark, dir), cachedCents(spark, dir))

  def sampleClusterOf(corpusDf: DataFrame, kmeansIters: Int = 0)
      : DataFrame =
    sampleClusterWith(corpusDf, kmeansCentroids(corpusDf, kmeansIters))

  /** [[sampleCluster]] restricted to a key subset (doc_id rows) — the
    * curated-corpus diversity cap [[Curation.curateDiverse]] composes.
    * The quantizer stays the session-cached FULL-corpus one (a coarse
    * quantizer is a corpus-level artifact; re-training it per subset
    * would make the cap's geometry drift with the gate), only the
    * assignment and the per-cluster rank run over the subset. The
    * subset arrives as keys, so the restriction is a key semi-join
    * before the zero-shuffle assignment kernel.
    */
  def sampleClusterFor(spark: SparkSession, dir: String,
      ids: DataFrame): DataFrame =
    sampleClusterWith(
      emb(spark, dir).join(
        ids.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi"),
      cachedCents(spark, dir))

  private def sampleClusterWith(corpusDf: DataFrame,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    val assign = assignOf(corpusDf, cents).select("vec_id", "cid")
    val sizes = assign.groupBy("cid")
      .agg(count(lit(1)).as("cluster_n"))
    assign
      .withColumn("rk", row_number().over(
        Window.partitionBy("cid")
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id")))
        .cast("long"))
      .where(col("rk") <= ClusterSampleCap)
      .join(broadcast(sizes), "cid")
      .select(col("vec_id"), col("cid"), col("cluster_n"), col("rk"))
  }

  /** Per-label element-wise embedding centroids — the corpus-statistics
    * side of the embedding family (class prototypes for nearest-centroid
    * classification / cluster summaries / drift dashboards). Plan:
    * `posexplode` to (label, dim, v) — embarrassingly parallel — then ONE
    * hash aggregation keyed (label, dim) with map-side partials, so the
    * shuffle carries |labels|·dims·partitions partial rows, never the
    * vectors. Float sums are order-dependent, so the mean uses the
    * DECIMAL-stable recipe shared with [[Sgd.gramMatrix]]: floor(v·10¹²)
    * is exact in doubles, sums exactly in DECIMAL(38,0), and the final
    * two divisions are identical IEEE ops in both engines — the hash
    * gate stays bit-stable under any partitioning.
    */
  def embCentroids(spark: SparkSession, dir: String): DataFrame =
    embCentroidsOf(Tables(spark, dir, "embeddings")
      .select(col("label"), col("embedding")))

  def embCentroidsOf(vectors: DataFrame): DataFrame =
    vectors
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .select(col("label"), col("dim").cast("long").as("dim"), col("v"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        (graft.functions.StableSum.dsum(col("v"))
          / count(lit(1)).cast("double")).as("centroid"))

  /** Embedding-space drift monitor — the vector-side companion to the
    * scalar drift dashboards ([[graft.operators.Sketch]]'s KS drift,
    * Curation's quality drift): per DIMENSION, the mean of the current
    * snapshot versus the baseline snapshot and their difference — the
    * profile that catches an upstream embedder change, re-normalization,
    * or population shift that cosine top-k silently absorbs. Snapshots
    * are the deterministic vec_id-parity halves (the corpus-refresh
    * proxy the fixture supports); a real deployment feeds two epochs
    * through the same seam.
    *
    * Determinism: per-dim means use the same DECIMAL-stable recipe as
    * [[embCentroidsOf]] (floor(v·10¹²) exact in doubles → DECIMAL(38,0)
    * sums → one IEEE division), and the diff is one subtraction of two
    * such doubles — hash-stable under any partitioning. Both snapshots
    * aggregate in ONE pass (conditional sums), so the corpus scans
    * once; output is `dims` rows.
    */
  def embDrift(spark: SparkSession, dir: String): DataFrame =
    embDriftOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))

  def embDriftOf(vectors: DataFrame): DataFrame = {
    import graft.functions.StableSum.dsum
    val snapA = col("vec_id") % 2 === 0
    vectors
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("v"))
      .groupBy("dim")
      .agg(
        sum(when(snapA, 1L).otherwise(0L)).as("n_a"),
        sum(when(!snapA, 1L).otherwise(0L)).as("n_b"),
        (dsum(when(snapA, col("v")))
          / sum(when(snapA, 1L).otherwise(0L)).cast("double"))
          .as("mean_a"),
        (dsum(when(!snapA, col("v")))
          / sum(when(!snapA, 1L).otherwise(0L)).cast("double"))
          .as("mean_b"))
      .withColumn("diff", col("mean_a") - col("mean_b"))
  }

  /** Symmetric int8 quantization of the embedding column — the 4×
    * storage/bandwidth shrink step before an embedding corpus ships to
    * an ANN index. Per vector: scale = max |v_i|, q_i = ⌊v_i·127/scale
    * + 0.5⌋ (round-half-up, exact double arithmetic on exactly-widened
    * floats, so both engines produce identical integers bit-for-bit);
    * an all-zero vector quantizes to zeros. Output is exploded to
    * (vec_id, i, scale, q) so the oracle verifies every element.
    *
    * Scale shape: entirely row-local (one generator per row, zero
    * shuffles); the dim-fold for the scale and the explode both sit in
    * the projection above the scan.
    */
  def embQuantize(spark: SparkSession, dir: String): DataFrame =
    embQuantizeOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))

  /** The one quantization rule (max-abs scale, round-half-up) shared by
    * [[embQuantizeOf]] and [[int8TopKOf]] — a tweak here (e.g. clamping)
    * changes both ends of the quantize→serve path together.
    */
  private[operators] def qScaleOf(v: Column): Column =
    aggregate(v, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))

  private[operators] def qElemOf(x: Column, scale: Column): Column =
    when(scale === lit(0.0), lit(0L))
      .otherwise(floor(x.cast("double") * 127.0 / scale + 0.5))

  private def qScale: Column = qScaleOf(col("embedding"))

  private def qElem(v: Column, scale: Column): Column = qElemOf(v, scale)

  def embQuantizeOf(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), col("embedding"), qScale.as("scale"))
      .select(col("vec_id"), col("scale"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i").cast("long").as("i"), col("scale"),
        qElem(col("v"), col("scale")).as("q"))

  /** Int8-scored brute-force top-k — the scoring path a quantized ANN
    * serving tier runs: both sides quantized with [[embQuantizeOf]]'s
    * arithmetic (kept as arrays), scored by the EXACT integer dot
    * product rescaled by the two scales (idot·s_a·s_b/127²), ranked per
    * query. Integer dots are exact and the rescale is three IEEE ops in
    * a fixed order, so the oracle reproduces every score bit-for-bit —
    * the quantization ERROR itself is what the differential check
    * verifies (it prices the same approximation identically).
    *
    * Scale shape: quantization is row-local; the 50-query side
    * broadcasts; the corpus is scored where it lives and the ranking
    * window's WindowGroupLimit prunes to k per partition map-side.
    */
  def int8TopK(spark: SparkSession, dir: String): DataFrame =
    int8RankCut(cachedInt8(spark, dir).scored)

  /** The quantized representation as a DataFrame (vec_id, scale, qv) —
    * shared by the int8 scorer and [[mmrTopKOf]]'s pair dots.
    */
  private def quantDf(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), qScale.as("scale"),
      transform(col("embedding"), v => qElem(v, qScale)).as("qv"))

  /** All int8-rescaled (query, neighbor, qdot) pairs — the scoring
    * kernel of [[int8TopKOf]] without the rank cut.
    */
  private def int8ScoredFrom(quant: DataFrame, nQueries: Long)
      : DataFrame = {
    val spark = quant.sparkSession
    val s = spark; import s.implicits._
    // the O(corpus × queries) scoring loop runs as a typed kernel like
    // [[scoredPairs]] — same integer dot, same IEEE rescale order as
    // the oracle, ~an order of magnitude over the interpreted
    // expression path at fixture scale
    val q = quant.as[(Long, Double, Array[Long])]
    // the query-side collect reads 50 quantized rows, not the corpus
    val queries = q.where(col("vec_id") < nQueries).collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(queries)
    q.mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (nid, ns, nq) =>
          qs.iterator.filter(_._1 != nid).map { case (qid, qsc, qq) =>
            var acc = 0L
            var i = 0
            while (i < qq.length) { acc += qq(i) * nq(i); i += 1 }
            (qid, nid, acc.toDouble * qsc * ns / 16129.0)
          }
        }
      }
      .toDF("query_id", "neighbor_id", "qdot")
  }

  private def int8Scored(vectors: DataFrame, nQueries: Long): DataFrame =
    // quantization stays declarative (row-local expressions above the
    // scan); Catalyst pushes the query-side vec_id filter below it
    int8ScoredFrom(quantDf(vectors), nQueries)

  /** The MmrPool-deep per-query shortlist — [[mmrTopK]]'s candidate
    * pool, cut from the scored pairs by the same (qdot desc, id asc)
    * comparator as [[int8RankCut]].
    */
  private def mmrPoolCut(scored: DataFrame): DataFrame =
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("qdot").desc, col("neighbor_id").asc)))
      .where(col("rk") <= MmrPool).drop("rk")

  /** Session-lifetime int8 serving index per (session, dir, nQueries):
    * the quantized corpus, the [[int8ScoredFrom]] pair table, and the
    * [[mmrPoolCut]] shortlist, each localCheckpointed — the int8 top-k,
    * the MMR re-ranker, and the recall audit all read these, and
    * without the cache each invocation re-quantized and re-scored the
    * whole corpus (the r10 MMR residual: ~2 s of shortlist corpus pass
    * per call). Same lifetime contract as [[bookCache]] (immutable
    * fixture dirs, or invalidate at the boundary); get/putIfAbsent
    * so no map lock spans the build, a lost race releases its extra
    * checkpoints.
    */
  private case class Int8Index(quant: DataFrame, scored: DataFrame,
      pool: DataFrame)

  private val int8Cache =
    new graft.SessionCache[Int8Index](idx => {
      graft.Materialize.release(idx.pool)
      graft.Materialize.release(idx.scored)
      graft.Materialize.release(idx.quant)
    })

  private def cachedInt8(spark: SparkSession, dir: String): Int8Index = {
    val n = nq(spark)
    int8Cache.getOrBuild(spark, dir, n) {
      val mat = graft.Materialize.session(spark)
      val quant = mat(quantDf(
        Tables(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))))
      val scored = mat(int8ScoredFrom(quant, n))
      val pool = mat(mmrPoolCut(scored))
      Int8Index(quant, scored, pool)
    }
  }

  private def int8RankCut(scored: DataFrame): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("qdot").desc, col("neighbor_id").asc)))
      .where(col("rank") <= TopK)

  def int8TopKOf(vectors: DataFrame, nQueries: Long): DataFrame =
    int8RankCut(int8Scored(vectors, nQueries))

  /** Dimension budgets priced by [[matryoshka]] (the full 64 is the
    * identity row — recall 1.0 by construction); conf-tunable, oracle
    * built at the defaults.
    */
  val MrlBudgets: Seq[Int] = Seq(8, 16, 32, 64)
  val MrlBudgetsConf = "graft.sim.mrlBudgets"

  /** Matryoshka dimension-truncation recall audit (Kusupati et al.,
    * NeurIPS '22) — the DIMENSION-budget sibling of the int8/binary
    * PRECISION audits in [[simRecall]]: exact cosine top-k recomputed
    * with embeddings truncated to each [[MrlBudgets]] prefix, recalled
    * against the full-dimension exact top-k. The curve is the
    * flat-index cost model for serving truncated vectors (a 16-dim
    * prefix is 4× cheaper per probe than 64); MRL-trained embeddings
    * hold recall at small prefixes, generic ones decay — either way
    * THIS table is the number the serving tier reads before picking a
    * budget. (dims, n_exact, n_hit, recall).
    *
    * Scale shape: one broadcast-kernel corpus scan per budget (the
    * [[bruteForceTopKOf]] shape — the corpus never shuffles for
    * scoring), one semi-join per budget against the checkpointed exact
    * set ([[recallTally]]), bounded output. Truncation is a row-local
    * slice.
    */
  def matryoshka(spark: SparkSession, dir: String): DataFrame = {
    val budgets = graft.Conf.longs(spark, MrlBudgetsConf,
      MrlBudgets.map(_.toLong))
    val vecs = emb(spark, dir)
    val n = nq(spark)
    val s = spark; import s.implicits._
    recallTally(bruteForceTopKOf(vecs, n), budgets.toDF("dims"),
      budgets.map { b =>
        bruteForceTopKOf(
          vecs.select(col("vec_id"), slice(col("e"), 1, b.toInt).as("e")),
          n).select(lit(b).as("dims"), col("query_id"), col("neighbor_id"))
      }.reduce(_.unionByName(_)))
  }

  /** The one recall tally behind [[simRecall]] and [[matryoshka]]: the
    * exact top-k pairs are cut once (they feed the denominator and the
    * semi-join probe); `approx` — (tag, query_id, neighbor_id) rows,
    * one stream per tag — semi-joins them into per-tag hit counts, and
    * every tag of the one-column `tags` reports (tag, n_exact, n_hit,
    * recall). The result is forced and the exact cut released before
    * returning, so no cut outlives the call.
    */
  private def recallTally(exactTopK: DataFrame, tags: DataFrame,
      approx: DataFrame): DataFrame = {
    val tag = tags.columns(0)
    val exact = exactTopK.select("query_id", "neighbor_id").localCheckpoint()
    val total = exact.agg(count(lit(1)).as("n_exact"))
    val hits = approx
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(tag).agg(count(lit(1)).as("n_hit"))
    val out = tags
      .join(hits, Seq(tag), "left")
      .crossJoin(broadcast(total))
      .select(col(tag), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_exact").cast("double")).as("recall"))
    val forced = graft.Materialize.Local(out)
    graft.Materialize.release(exact)
    forced
  }

  /** Candidate pool depth and diversified result size for [[mmrTopK]]. */
  val MmrPool = 20
  val MmrK = 5

  /** Maximal-marginal-relevance diversified re-ranking (Carbonell &
    * Goldstein, SIGIR '98) — the serving-side step between ANN
    * retrieval and the user: from each query's top-[[MmrPool]] int8
    * shortlist, greedily pick [[MmrK]] results maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s) with λ = ½, so a
    * second near-duplicate of an already-picked result loses to a
    * fresh angle — relevance alone returns redundant neighbors (the
    * same [[graft.operators.Dedup]] insight applied at query time).
    * (query_id, step, neighbor_id, qdot, score).
    *
    * Determinism: relevance is the int8 kernel's exact-integer dot
    * under the pinned IEEE rescale order; pair sims reuse the SAME
    * quantized representation through a declarative fold (identical
    * integer sum, identical rescale); every greedy argmax ties by
    * neighbor_id. The oracle unrolls all [[MmrK]] pick/penalize
    * rounds, so the greedy trajectory itself is hash-verified (the
    * coverage-select pattern).
    *
    * Scale shape: the corpus-scale scoring pass lives in the session
    * int8 index ([[cachedInt8]]) — paid once per (session, dir),
    * shared with `llm_sim_int8_topk`; everything per-call lives on
    * queries·[[MmrPool]] rows (the pool broadcasts into the
    * quantized-vector fetch, pair sims are pool²-per-query ≈ bounded).
    * The greedy trajectory itself folds
    * DRIVER-SIDE over two pinned bounded pulls — pool ≤
    * queries·[[MmrPool]] rows, pair sims ≤ queries·[[MmrPool]]² —
    * the θ-class bounded-model pattern ([[Streams.markovAttribution]]):
    * r9 ran [[MmrK]] rounds of anti-join + max-agg + rank-1 Spark jobs
    * on those same ≤1000-row tables and paid 3.4 s of pure job-launch
    * overhead for it. Same IEEE score arithmetic, same
    * (score desc, neighbor_id asc) tie order, so the hash is unchanged.
    */
  def mmrTopK(spark: SparkSession, dir: String): DataFrame = {
    // serve from the session int8 index: the corpus-scale scoring and
    // quantization passes are paid once per (session, dir), each MMR
    // call costs only a bounded vector fetch + the driver fold
    val idx = cachedInt8(spark, dir)
    mmrFrom(idx.pool, idx.quant)
  }

  def mmrTopKOf(vectors: DataFrame, nQueries: Long): DataFrame = {
    val scored = graft.Materialize.Local(int8Scored(vectors, nQueries))
    try mmrFrom(mmrPoolCut(scored), quantDf(vectors))
    finally graft.Materialize.release(scored)
  }

  private def mmrFrom(pool: DataFrame, qd: DataFrame): DataFrame = {
    val poolQ = pool.join(qd.withColumnRenamed("vec_id", "neighbor_id"),
      "neighbor_id")
    val px = poolQ.select(col("query_id"), col("neighbor_id").as("i"),
      col("scale").as("sa"), col("qv").as("qa"))
    val py = poolQ.select(col("query_id"), col("neighbor_id").as("j"),
      col("scale").as("sb"), col("qv").as("qb"))
    val idot = expr(
      "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L," +
        " (acc, v) -> acc + v)")
    val pairsDf = px.join(py, Seq("query_id"))
      .where(col("i") =!= col("j"))
      .select(col("query_id"), col("i"), col("j"),
        (idot.cast("double") * col("sa") * col("sb") / lit(16129.0))
          .as("pdot"))
    // bounded driver pulls (CollectLintSpec-pinned): ≤ queries·MmrPool
    // pool rows and ≤ queries·MmrPool·(MmrPool−1) pair-sim rows
    val poolRows = pool.select("query_id", "neighbor_id", "qdot")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairRows = pairsDf.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getDouble(3)))
    val pdot = pairRows.toMap
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double, Double)]
    poolRows.groupBy(_._1).foreach { case (q, rows) =>
      val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
      var k = 1
      while (k <= MmrK) {
        // argmax of 0.5·qdot − 0.5·max_{s∈sel} pdot(i,s), ties by
        // neighbor_id asc — the exact comparator of the r9 rank-1 cut
        var best: (Long, Double, Double) = null // (nid, qdot, score)
        rows.foreach { case (_, nid, qd0) =>
          if (!sel.contains(nid)) {
            val score =
              if (k == 1) 0.5 * qd0
              else {
                var red = Double.NegativeInfinity
                sel.foreach { j =>
                  val p = pdot((q, nid, j))
                  if (p > red) red = p
                }
                0.5 * qd0 - 0.5 * red
              }
            if (best == null || score > best._3 ||
              (score == best._3 && nid < best._1))
              best = (nid, qd0, score)
          }
        }
        if (best != null) {
          out += ((q, k.toLong, best._1, best._2, best._3))
          sel += best._1
        }
        k += 1
      }
    }
    val s2 = qd.sparkSession; import s2.implicits._
    out.toSeq.toDF("query_id", "step", "neighbor_id", "qdot", "score")
  }

  // ---- binary (1-bit) quantization — Hamming shortlist + re-rank ----

  /** Sign-signature layout: 64 dims → two 32-bit words (bits 0..31 of
    * each word, dims ascending). Two-word spelling on purpose — no bit
    * ever lands in a BIGINT sign position (a 1::BIGINT << 63 overflows
    * DuckDB's checked shift), and it IS the multi-word layout a real
    * d > 64 corpus needs.
    */
  val BinBitsPerWord = 32

  /** Hamming candidates per query handed to the exact re-rank — the
    * over-fetch knob every binary serving stack exposes (rescore
    * multiplier). Tuned against `llm_sim_recall` at sf0.01: 4·k = 0.480,
    * 10·k = 0.700, shipped 20·k = **0.868** — uncentered sign bits are
    * the weakest quantizer per bit here (compare int8 0.992, pq 0.912),
    * priced honestly by the recall report; the shortlist is an ABSOLUTE
    * per-query row count, so the re-rank fetch stays ≤ queries·this
    * whatever the corpus size.
    */
  val BinShortlist = 100

  /** One signature word over dims [lo, lo + 32): bit i set iff
    * embedding[lo + i] > 0. Row-local, codegen-able, no shuffle.
    */
  private def binWord(lo: Int): Column =
    expr(s"""aggregate(zip_with(
      slice(embedding, ${lo + 1}, $BinBitsPerWord),
      sequence(0, ${BinBitsPerWord - 1}),
      (v, i) -> IF(CAST(v AS DOUBLE) > 0.0D, shiftleft(1L, i), 0L)),
      0L, (acc, x) -> acc + x)""")

  /** Binary-quantized top-k — the cheapest ANN serving tier (1 bit per
    * dim, 64× smaller than float32): sign signatures packed row-local
    * into two longs, candidates shortlisted by exact Hamming distance
    * (`Long.bitCount(xor)` in a typed kernel over the broadcast 50-query
    * signature set), then ONLY the ≤ queries·[[BinShortlist]] survivors
    * re-ranked by exact cosine against full vectors fetched via a
    * broadcast join back into the corpus scan — the two-phase
    * shortlist-then-rerank pattern every binary/PQ serving stack runs
    * (the corpus' float vectors are touched for 1000 rows, not n·q).
    *
    * Determinism: signatures and Hamming distances are exact integers;
    * the re-rank cosine is [[Hashing.cosineSeq]]'s fixed sequential
    * order — both engines replay pack → xor/popcount → shortlist →
    * cosine bit-for-bit. (query_id, neighbor_id, hamming, cos_sim,
    * rank).
    */
  def binaryTopK(spark: SparkSession, dir: String): DataFrame =
    binaryTopKOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")), nq(spark))

  def binaryTopKOf(vectors: DataFrame, nQueries: Long): DataFrame = {
    val spark = vectors.sparkSession
    val s = spark; import s.implicits._
    val sig = vectors.select(col("vec_id"),
      binWord(0).as("sig_lo"), binWord(BinBitsPerWord).as("sig_hi"))
    // bounded query-side pull: nQueries rows of (id, 2 words, vector)
    val queries = vectors.where(col("vec_id") < nQueries)
      .select(col("vec_id"), binWord(0).as("sig_lo"),
        binWord(BinBitsPerWord).as("sig_hi"),
        col("embedding").cast("array<double>").as("e"))
      .as[(Long, Long, Long, Array[Double])].collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(queries)
    val short = sig.as[(Long, Long, Long)]
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (nid, lo, hi) =>
          qs.iterator.filter(_._1 != nid).map { case (qid, qlo, qhi, _) =>
            (qid, nid, (java.lang.Long.bitCount(lo ^ qlo)
              + java.lang.Long.bitCount(hi ^ qhi)).toLong)
          }
        }
      }
      .toDF("query_id", "neighbor_id", "hamming")
      .withColumn("hrk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("hamming").asc, col("neighbor_id").asc)))
      .where(col("hrk") <= BinShortlist)
      .select("query_id", "neighbor_id", "hamming")
    // re-rank: the tiny shortlist broadcasts INTO the corpus scan to
    // fetch candidate vectors; query vectors come off the broadcast
    short.hint("broadcast")
      .join(vectors.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("ne")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("ne"))
      .as[(Long, Long, Long, Array[Double])]
      .mapPartitions { it =>
        val qm = bc.value.map(q => q._1 -> q._4).toMap
        it.map { case (qid, nid, h, ne) =>
          (qid, nid, h, Hashing.cosineSeq(qm(qid), ne))
        }
      }
      .toDF("query_id", "neighbor_id", "hamming", "cos_sim")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id").asc)))
      .where(col("rank") <= TopK)
  }

  // ---- product quantization (PQ) — the compressed serving path ----

  /** PQ geometry over the 64-dim fixture embeddings: [[PqSubspaces]]
    * subvectors of [[PqSubDim]] dims, [[PqCodes]] centroids per
    * subspace — the canonical PQ32×8 cell (32 sub-quantizers × 8-bit
    * codes). A corpus vector compresses from 512 bytes of doubles to
    * 32 bytes of codes against a shared broadcastable codebook — 16×
    * smaller, the reason PQ is what actually serves billion-vector ANN
    * (the codes fit where the vectors could not).
    *
    * Tuned against `llm_sim_recall` at sf0.01 (each rung oracle-
    * verified): 4×16-dim/K16/1 iter = 0.188, 8×8/K64/1 = 0.380,
    * 16×4/K64/1 = 0.572, 16×4/K128/2 = 0.672, 32×2/K128/2 = 0.864,
    * shipped 32×2/K256/2 = **0.912** — finer subspaces beat bigger
    * codebooks per byte on these embeddings, the standard PQ finding.
    */
  val PqSubspaces = 32
  val PqSubDim = 2
  val PqCodes = 256

  /** Lloyd steps per sub-quantizer (unrolled in the oracle). */
  val PqKmeansIters = 2

  /** The trained PQ codebook of any (vec_id, e) corpus: [[lloyd]] with
    * the L2 metric over [[PqSubspaces]] subspaces, [[PqKmeansIters]]
    * steps from the sampled seed (the first [[PqCodes]] vec_ids, so
    * code ids are 0…K−1) — replayable by the oracle's unrolled CTEs.
    */
  def pqCodebookOf(corpusDf: DataFrame)
      : Array[Array[(Long, Array[Double])]] =
    lloyd(corpusDf, PqCodes, PqSubspaces, l2 = true, PqKmeansIters)

  private def cachedCodebook(spark: SparkSession, dir: String)
      : Array[Array[(Long, Array[Double])]] =
    bookCache.getOrBuild(spark, dir, "pq")(pqCodebookOf(emb(spark, dir)))

  /** The session-cached trained codebook (read-only view for audits
    * and specs): `book(m)` = the [[PqCodes]] (code, centroid) pairs of
    * subspace m, code-ascending.
    */
  def pqCodebook(spark: SparkSession, dir: String)
      : Array[Array[(Long, Array[Double])]] = cachedCodebook(spark, dir)

  /** PQ encode → reconstruct, the one copy: per subspace the L2-nearest
    * sub-centroid ([[nearest]]), concatenated. Seed ids are 0…K−1, so
    * a code indexes the codebook array directly.
    */
  private def pqReconstruct(book: Array[Array[(Long, Array[Double])]],
      e: Array[Double]): Array[Double] = {
    val r = new Array[Double](e.length)
    var m = 0
    while (m < book.length) {
      val code = nearest(book(m), e, m * PqSubDim, l2 = true).toInt
      System.arraycopy(book(m)(code)._2, 0, r, m * PqSubDim, PqSubDim)
      m += 1
    }
    r
  }

  /** PQ-ADC top-k: every corpus vector is encoded (per subspace, the
    * nearest sub-centroid) and scored against the full-precision query
    * as ONE sequential 64-dim dot with its RECONSTRUCTION (the
    * concatenated sub-centroids) — mathematically the asymmetric
    * distance computation Σ_m ⟨q_m, c_{m,code_m}⟩, but fused into a
    * single ascending-index fold so the value is bit-equal to the
    * oracle's flat list_reduce over the concatenated lists.
    *
    * Scale shape: the codebook broadcasts (tiny); encoding is
    * O(K·subdim) flops per vector, row-local; the corpus never
    * shuffles for scoring; the ranking window prunes to k per
    * partition map-side. At 100 TB the recon step reads 4-byte codes,
    * not 256-byte vectors — the compression IS the scan saving.
    */
  def pqTopK(spark: SparkSession, dir: String): DataFrame =
    pqTopKWith(emb(spark, dir), nq(spark), cachedCodebook(spark, dir))

  def pqTopKOf(corpusDf: DataFrame, nQueries: Long): DataFrame =
    pqTopKWith(corpusDf, nQueries, pqCodebookOf(corpusDf))

  private def pqTopKWith(corpusDf: DataFrame, nQueries: Long,
      book: Array[Array[(Long, Array[Double])]]): DataFrame = {
    val spark = corpusDf.sparkSession
    val s = spark; import s.implicits._
    val corpus = corpusDf.as[(Long, Array[Double])]
    val bcBook = spark.sparkContext.broadcast(book)
    val queries = corpus.filter(_._1 < nQueries).collect().sortBy(_._1)
    val bcQ = spark.sparkContext.broadcast(queries)
    corpus
      .mapPartitions { it =>
        val bk = bcBook.value
        val qs = bcQ.value
        it.flatMap { case (nid, e) =>
          val r = pqReconstruct(bk, e)
          qs.iterator.filter(_._1 != nid).map { case (qid, qe) =>
            (qid, nid, Hashing.dotSeq(qe, r))
          }
        }
      }
      .toDF("query_id", "neighbor_id", "pq_dot")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("pq_dot").desc, col("neighbor_id").asc)))
      .where(col("rank") <= TopK)
  }

  /** Power-iteration steps behind [[embPca]] (unrolled in the oracle). */
  val PcaIters = 8

  /** Session-cached (mean, first principal direction) per corpus. */
  private val pcaCache =
    new graft.SessionCache[(Array[Double], Array[Double])](_ => ())

  private def cachedPca(spark: SparkSession, dir: String)
      : (Array[Double], Array[Double]) =
    pcaCache.getOrBuild(spark, dir)(pcaOf(emb(spark, dir)))

  /** Trains the first principal component of any (id, e) corpus:
    * DECIMAL-stable per-dim mean, DECIMAL-stable 64×64 covariance
    * aggregation (order-independent under any partitioning), then
    * [[PcaIters]] deterministic power-iteration steps on the collected
    * matrix — driver state is dims² cells, the θ/centroid O(small)
    * class. Every fold (matvec over j, norm over i, projection over i)
    * runs ascending-index sequential, so the direction — and every
    * downstream projection — is bit-replayable by the oracle's
    * list_reduce spellings. The start vector is 1/8 per dim (unit norm
    * EXACTLY: 64·0.125² = 1, and 0.125 is a power of two).
    */
  private[operators] def pcaOf(corpusDf: DataFrame)
      : (Array[Double], Array[Double]) = {
    val spark = corpusDf.sparkSession
    val s = spark; import s.implicits._
    val corpus = corpusDf.as[(Long, Array[Double])]
    val m = corpusDf
      .select(posexplode(col(corpusDf.columns(1))).as(Seq("i", "x")))
      .groupBy("i")
      .agg((graft.functions.StableSum.dsum(col("x"))
        / count(lit(1)).cast("double")).as("m"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2)
    val bcM = spark.sparkContext.broadcast(m)
    val cells = corpus
      .flatMap { case (_, e) =>
        val mm = bcM.value
        for {
          i <- (0 until e.length).iterator
          j <- 0 until e.length
        } yield (i, j, (e(i) - mm(i)) * (e(j) - mm(j)))
      }
      .toDF("i", "j", "p")
      .groupBy("i", "j")
      .agg(graft.functions.StableSum.dsum(col("p")).as("c"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    val n = m.length
    val c = Array.tabulate(n, n)((i, j) => cells((i, j)))
    var x = Array.fill(n)(0.125)
    var t = 0
    while (t < PcaIters) {
      val y = new Array[Double](n)
      var i = 0
      while (i < n) {
        var acc = 0.0
        var j = 0
        while (j < n) { acc += c(i)(j) * x(j); j += 1 }
        y(i) = acc
        i += 1
      }
      var nrm = 0.0
      i = 0
      while (i < n) { nrm += y(i) * y(i); i += 1 }
      nrm = math.sqrt(nrm)
      i = 0
      while (i < n) { y(i) = y(i) / nrm; i += 1 }
      x = y
      t += 1
    }
    (m, x)
  }

  /** The one centered-pc1 fold behind [[embPca]], [[embAbtt]] and
    * [[abttEval]]: per vector, pc1 = Σ (e_i − mean_i)·v_i (ascending
    * fold against the broadcast (mean, direction)) and the ABTT vector
    * w_i = (e_i − mean_i) − pc1·v_i. Row-local, zero shuffles.
    * (vec_id, pc1, w).
    */
  private def pc1Of(corpusDf: DataFrame,
      mv: (Array[Double], Array[Double])): DataFrame = {
    val spark = corpusDf.sparkSession
    val s = spark; import s.implicits._
    val bc = spark.sparkContext.broadcast(mv)
    corpusDf.as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (mm, vv) = bc.value
        it.map { case (id, e) =>
          var pc1 = 0.0
          var i = 0
          while (i < e.length) { pc1 += (e(i) - mm(i)) * vv(i); i += 1 }
          val w = new Array[Double](e.length)
          i = 0
          while (i < e.length) {
            w(i) = (e(i) - mm(i)) - pc1 * vv(i)
            i += 1
          }
          (id, pc1, w)
        }
      }
      .toDF("vec_id", "pc1", "w")
  }

  /** Per-vector first-principal-component score — distributed PCA with
    * the trained direction riding the session cache like the IVF
    * centroids and PQ codebook. The projection is a row-local centered
    * dot ([[pc1Of]]): the corpus never shuffles to be scored, the
    * shape every whitening / 1-D embedding-compression pass needs. The
    * covariance build's 64²-cell explode amplifies CPU, not shuffle —
    * map-side combine reduces the exchange to dims² rows per partition.
    */
  def embPca(spark: SparkSession, dir: String): DataFrame =
    embPcaWith(emb(spark, dir), cachedPca(spark, dir))

  def embPcaOf(corpusDf: DataFrame): DataFrame =
    embPcaWith(corpusDf, pcaOf(corpusDf))

  private def embPcaWith(corpusDf: DataFrame,
      mv: (Array[Double], Array[Double])): DataFrame =
    pc1Of(corpusDf, mv).select("vec_id", "pc1")

  /** All-but-the-top embedding post-processing (Mu & Viswanath, ICLR
    * 2018): subtract the corpus mean and remove the top principal
    * component — the dominant direction is common-mode (frequency)
    * energy, and removing it measurably improves cosine-similarity
    * quality on most embedding tables. Rides the SAME session-cached
    * (mean, direction) as [[embPca]]: [[abttVectors]] exploded to
    * (vec_id, dim, w) rows so every cell is hash-gated.
    */
  def embAbtt(spark: SparkSession, dir: String): DataFrame =
    embAbttWith(emb(spark, dir), cachedPca(spark, dir))

  def embAbttOf(corpusDf: DataFrame): DataFrame =
    embAbttWith(corpusDf, pcaOf(corpusDf))

  private def embAbttWith(corpusDf: DataFrame,
      mv: (Array[Double], Array[Double])): DataFrame =
    abttVectors(corpusDf, mv)
      .select(col("vec_id"), posexplode(col("e")).as(Seq("i", "w")))
      .select(col("vec_id"), (col("i") + 1).cast("long").as("dim"),
        col("w"))

  /** The ABTT transform as full vectors (also feeds the retrieval A/B,
    * where cosine needs the whole processed row).
    */
  private def abttVectors(corpusDf: DataFrame,
      mv: (Array[Double], Array[Double])): DataFrame =
    pc1Of(corpusDf, mv).select(col("vec_id"), col("w").as("e"))

  /** Does the isotropy fix actually help retrieval on THIS corpus? The
    * A/B a pipeline owner reads before switching representations:
    * label-agreement@k — the fraction of exact top-[[TopK]] neighbors
    * sharing their query's label — for the raw cosine vs the
    * [[embAbtt]]-processed cosine. Both sides are EXACT rankings (the
    * brute-force kernel, no ANN confound); the processed vectors are
    * bit-replayable from the PCA chain, so the whole A/B sits behind
    * the hash gate. Same framing as [[simRecall]] / `llm_dedup_recall`:
    * measure the trade, don't assert it.
    */
  def abttEval(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val labels = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val proc = abttVectors(e, cachedPca(spark, dir))
    val tagged = Seq(
      "abtt" -> bruteForceTopKOf(proc, nq(spark)),
      "raw" -> bruteForceTopKOf(e, nq(spark)))
      .map { case (m, df) =>
        df.select(lit(m).as("method"), col("query_id"),
          col("neighbor_id"))
      }.reduce(_.unionByName(_))
    tagged
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .groupBy("method")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L))
          .as("n_same_label"))
      .select(col("method"), col("n_pairs"), col("n_same_label"),
        (col("n_same_label").cast("double")
          / col("n_pairs").cast("double")).as("agreement"))
  }

  /** IVF+PQ serving path — the two index layers COMPOSED, which is the
    * layout that actually serves billion-vector ANN (FAISS's IVFADC
    * cell, here without residual encoding): the coarse quantizer prunes
    * WHICH inverted lists each query scans ([[NumProbes]] of
    * [[NumCentroids]]) and PQ-ADC scores only those survivors against
    * the 32-byte codes. [[ivfTopK]] alone still reads full vectors for
    * ~44% of the corpus per query; [[pqTopK]] alone still scores 100%
    * of the codes. Composed, a query touches probes/K of the corpus AND
    * reads 16×-compressed codes while doing it — pruning × compression,
    * multiplicative.
    *
    * Both trained artifacts ride the session quantizer cache
    * ([[cachedCents]] / [[cachedCodebook]]) — the index is built once
    * per corpus, served many times. It is [[ivfServe]] with the
    * codebook: one corpus pass computes the list assignment and the PQ
    * reconstruction row-local (centroids + codebook broadcast);
    * candidates come from the probe⋈assignment equi-join on the list
    * id; scoring is the same ascending-index ADC dot as [[pqTopK]],
    * bit-equal to the oracle's flat list_reduce; the ranking window
    * prunes to k per partition map-side (WindowGroupLimit).
    *
    * Recall at sf0.01 (via [[simRecall]]): 0.804 — ivf's pruning loss
    * (0.828) compounded by pq's quantization reorder (0.912), priced
    * honestly next to both parents in the recall report.
    */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    ivfServe(corpus, corpus.where(col("vec_id") < nq(spark)),
      cachedCents(spark, dir), Some(cachedCodebook(spark, dir)))
  }

  /** Spec seam: trains both quantizers fresh on `corpusDf` (coarse
    * quantizer with `kmeansIters` Lloyd steps, PQ at its shipped
    * [[PqKmeansIters]]).
    */
  def ivfPqTopKOf(corpusDf: DataFrame, nQueries: Long,
      kmeansIters: Int = 0): DataFrame =
    ivfServe(corpusDf, corpusDf.where(col("vec_id") < nQueries),
      kmeansCentroids(corpusDf, kmeansIters), Some(pqCodebookOf(corpusDf)))

  /** ANN recall report — the number an ANN user actually tunes
    * [[LshTables]] / [[NumProbes]] / the quantization width by: for each
    * approximate method, the fraction of the EXACT top-k pairs
    * ([[bruteForceTopK]]) it recovers. Each method contributes one
    * tagged (query, neighbor) stream into [[recallTally]]'s single
    * semi-join + per-method count. SQL-expressible end-to-end, so the
    * recall itself sits behind the oracle gate: both engines replay the
    * exact AND approximate pipelines and must agree on every hit count.
    */
  val RecallMethods = Seq("binary", "int8", "ivf", "ivfpq", "lsh", "pq")

  def simRecall(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    recallTally(bruteForceTopK(spark, dir), RecallMethods.toDF("method"),
      Seq(
        "binary" -> binaryTopK(spark, dir),
        "int8" -> int8TopK(spark, dir),
        "ivf" -> ivfTopK(spark, dir),
        "ivfpq" -> ivfPqTopK(spark, dir),
        "lsh" -> lshTopK(spark, dir),
        "pq" -> pqTopK(spark, dir))
        .map { case (m, df) =>
          df.select(lit(m).as("method"), col("query_id"),
            col("neighbor_id"))
        }.reduce(_.unionByName(_)))
  }

  /** Cluster-label agreement of the trained IVF quantizer — the
    * unsupervised-quality readout the `embeddings` fixture's
    * ground-truth labels make checkable: per cell, the member count,
    * majority label, majority count and purity, plus a corpus-level
    * row (cid = −1, top_label = −1) whose purity Σ n_top / N is the
    * standard clustering-purity score. Everything is exact integers
    * until the one purity division; majority ties break to the
    * smaller label (pinned via the max-struct idiom).
    *
    * Shape: assignment is O(centroids) broadcast flops per vector
    * (zero shuffles, [[assignOf]], the label passed through as its
    * tag), then two bounded aggregations over (cells × labels).
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("label"))
    val assign = assignOf(labeled, cachedCents(spark, dir),
        tag = col("label").cast("long"))
      .select(col("vec_id"), col("cid"), col("tag").as("label"))
    val cl = assign.groupBy("cid", "label").agg(count(lit(1)).as("n"))
    val per = cl.groupBy("cid")
      .agg(sum(col("n")).as("n_members"),
        max(struct(col("n"), (-col("label")).as("nl"))).as("b"))
      .select(col("cid"), col("n_members"),
        (-col("b.nl")).as("top_label"), col("b.n").as("n_top"),
        (col("b.n").cast("double") / col("n_members").cast("double"))
          .as("purity"))
    val tot = per.agg(sum(col("n_members")).as("n_members"),
      sum(col("n_top")).as("n_top"))
      .select(lit(-1L).as("cid"), col("n_members"),
        lit(-1L).as("top_label"), col("n_top"),
        (col("n_top").cast("double") / col("n_members").cast("double"))
          .as("purity"))
    per.unionAll(tot)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_cluster_purity" -> clusterPurity,
    "llm_sim_binary_topk" -> binaryTopK,
    "llm_sim_int8_topk" -> int8TopK,
    "llm_sim_mmr_topk" -> mmrTopK,
    "llm_sim_matryoshka" -> matryoshka,
    "llm_emb_quantize" -> embQuantize,
    "llm_emb_centroids" -> embCentroids,
    "llm_embed_drift" -> embDrift,
    "llm_sim_incremental" -> simIncremental,
    "llm_sim_topk" -> bruteForceTopK,
    "llm_sim_hard_negatives" -> hardNegatives,
    "llm_classify" -> classify,
    "llm_sim_topk_agg" -> bruteForceTopKAgg,
    "llm_sim_lsh_topk" -> lshTopK,
    "llm_sim_ivf_topk" -> ivfTopK,
    "llm_sim_pq_topk" -> pqTopK,
    "llm_sim_ivfpq_topk" -> ivfPqTopK,
    "llm_emb_pca" -> embPca,
    "llm_emb_abtt" -> embAbtt,
    "llm_emb_abtt_eval" -> abttEval,
    "llm_sim_recall" -> simRecall,
    "llm_sample_cluster" -> sampleCluster
  )

  private val topkOracleSql =
    s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    ${Hashing.cosineSql("q.e", "n.e", 64)} AS cos_sim
       |  FROM v q JOIN v n ON q.vec_id < $NumQueries
       |    AND q.vec_id != n.vec_id
       |)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $TopK""".stripMargin

  /** The int8 quantize + score CTEs (v, q, scored) — shared by the
    * int8 top-k oracle and the MMR oracle.
    */
  private val int8ScoredCtes =
    s"""v AS (
       |  SELECT vec_id,
       |    list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
       |      AS scale,
       |    embedding FROM embeddings),
       |q AS (
       |  SELECT vec_id, scale,
       |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
       |      ELSE floor(x::DOUBLE * 127.0 / scale + 0.5)::BIGINT END)
       |      AS qv
       |  FROM v),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    list_reduce(list_transform(range(1, 65),
       |        i -> a.qv[i] * b.qv[i]), (x, y) -> x + y)::DOUBLE
       |      * a.scale * b.scale / 16129.0 AS qdot
       |  FROM q a JOIN q b ON a.vec_id < $NumQueries
       |    AND a.vec_id != b.vec_id)""".stripMargin

  private val oracleInt8 =
    s"""WITH $int8ScoredCtes
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, qdot,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY qdot DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $TopK""".stripMargin

  /** The MMR greedy unrolled: per round an anti-join against the
    * selected set, one max-penalty aggregate over the pool-pair dots,
    * one rank-1 cut — the coverage-select oracle pattern.
    */
  private val oracleMmr = {
    val rounds = (2 to MmrK).map { k =>
      val selUnion = (1 until k)
        .map(i => s"SELECT query_id, neighbor_id FROM s$i")
        .mkString("\n  UNION ALL ")
      s"""sel${k - 1} AS MATERIALIZED (
         |  $selUnion),
         |s$k AS MATERIALIZED (
         |  SELECT query_id, $k::BIGINT AS step, neighbor_id, qdot,
         |    score
         |  FROM (
         |    SELECT g.*, row_number() OVER (PARTITION BY g.query_id
         |      ORDER BY g.score DESC, g.neighbor_id ASC) AS rk
         |    FROM (
         |      SELECT p.query_id, p.neighbor_id, p.qdot,
         |        0.5e0 * p.qdot - 0.5e0 * max(pp.pdot) AS score
         |      FROM pool p
         |      JOIN pp ON pp.query_id = p.query_id
         |        AND pp.i = p.neighbor_id
         |      JOIN sel${k - 1} s2 ON s2.query_id = pp.query_id
         |        AND s2.neighbor_id = pp.j
         |      WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} sx
         |        WHERE sx.query_id = p.query_id
         |          AND sx.neighbor_id = p.neighbor_id)
         |      GROUP BY p.query_id, p.neighbor_id, p.qdot) g)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK)
      .map(i => s"SELECT * FROM s$i").mkString("\nUNION ALL ")
    s"""WITH $int8ScoredCtes,
       |pool AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, qdot FROM (
       |    SELECT query_id, neighbor_id, qdot, row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY qdot DESC, neighbor_id ASC) AS rk
       |    FROM scored) WHERE rk <= $MmrPool),
       |pp AS MATERIALIZED (
       |  SELECT x.query_id, x.neighbor_id AS i, y.neighbor_id AS j,
       |    list_reduce(list_transform(range(1, 65),
       |        k -> a.qv[k] * b.qv[k]), (ac, el) -> ac + el)::DOUBLE
       |      * a.scale * b.scale / 16129.0 AS pdot
       |  FROM pool x JOIN pool y ON y.query_id = x.query_id
       |    AND y.neighbor_id != x.neighbor_id
       |  JOIN q a ON a.vec_id = x.neighbor_id
       |  JOIN q b ON b.vec_id = y.neighbor_id),
       |s1 AS MATERIALIZED (
       |  SELECT query_id, 1::BIGINT AS step, neighbor_id, qdot,
       |    0.5e0 * qdot AS score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY qdot DESC, neighbor_id ASC) AS rk FROM pool)
       |  WHERE rk = 1),
       |$rounds
       |$out""".stripMargin
  }

  private val oracleBinary = {
    def word(lo: Int) =
      s"""list_reduce(list_transform(range(${lo + 1}, ${lo + 33}),
         |      i -> CASE WHEN e[i] > 0e0
         |        THEN (1::BIGINT << (i - ${lo + 1})) ELSE 0::BIGINT END),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings),
       |sig AS (
       |  SELECT vec_id, e,
       |    ${word(0)} AS sig_lo,
       |    ${word(BinBitsPerWord)} AS sig_hi
       |  FROM v),
       |ham AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    (bit_count(xor(q.sig_lo, n.sig_lo))
       |      + bit_count(xor(q.sig_hi, n.sig_hi)))::BIGINT AS hamming,
       |    q.e AS qe, n.e AS ne
       |  FROM sig q JOIN sig n ON q.vec_id < $NumQueries
       |    AND q.vec_id != n.vec_id),
       |short AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming ASC, neighbor_id ASC) AS hrk
       |    FROM ham)
       |  WHERE hrk <= $BinShortlist)
       |SELECT query_id, neighbor_id, hamming, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, hamming,
       |    ${Hashing.cosineSql("qe", "ne", 64)} AS cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${Hashing.cosineSql("qe", "ne", 64)} DESC,
       |        neighbor_id ASC) AS rank
       |  FROM short)
       |WHERE rank <= $TopK""".stripMargin
  }

  private val oracleLsh =
    s"""WITH ${Hashing.planesSqlCte(LshTables, LshBits, 64)},
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
       |  SELECT DISTINCT q.vec_id qid, n.vec_id nid
       |  FROM buckets q JOIN buckets n
       |    ON q.t = n.t AND q.bkt = n.bkt
       |    AND q.vec_id < $NumQueries AND q.vec_id != n.vec_id
       |),
       |v AS (SELECT vec_id, embedding e FROM embeddings),
       |scored AS (
       |  SELECT qid AS query_id, nid AS neighbor_id,
       |    ${Hashing.cosineSql("a.e", "b.e", 64)} AS cos_sim
       |  FROM cand JOIN v a ON qid = a.vec_id JOIN v b ON nid = b.vec_id
       |)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $TopK""".stripMargin

  /** Squared-L2 of two [[PqSubDim]]-dim list columns, ascending-index
    * fold — bit-equal to [[nearest]]'s L2 accumulation.
    */
  private def pqDistSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${PqSubDim + 1}),
       |      j -> ($a[j] - $b[j]) * ($a[j] - $b[j])), (x, y) -> x + y)"""
      .stripMargin

  /** PQ oracle: the per-subspace L2 k-means unrolled (all
    * [[PqSubspaces]] subspaces ride one CTE chain with `m` as a
    * column — the same math as the per-subspace Spark driver loop),
    * then encode → reconstruct (sub-centroids concatenated in m order)
    * → one flat 64-dim dot against the full-precision query.
    */
  private def pqKmeansCtes(k: Int): String = {
    val seed =
      s"""sub AS MATERIALIZED (
         |  SELECT vec_id, m,
         |    list_transform(range(1, ${PqSubDim + 1}),
         |      i -> e[m * $PqSubDim + i]::DOUBLE) AS sv
         |  FROM v, (SELECT unnest(range(0, $PqSubspaces)) AS m)),
         |p0 AS (SELECT m, vec_id AS code, sv AS ce FROM sub
         |       WHERE vec_id < $PqCodes),
         |pex AS MATERIALIZED (
         |  SELECT vec_id, m, u.i AS pos, u.v::DOUBLE AS x
         |  FROM (SELECT vec_id, m,
         |          unnest(list_transform(range(1, ${PqSubDim + 1}),
         |            i -> {'i': i, 'v': sv[i]})) AS u
         |        FROM sub))""".stripMargin
    val iters = (1 to k).map { i =>
      s"""ps$i AS MATERIALIZED (
         |  SELECT sub.vec_id, sub.m, p.code,
         |    ${pqDistSql("sub.sv", "p.ce")} AS d
         |  FROM sub JOIN p${i - 1} p ON sub.m = p.m),
         |pa$i AS MATERIALIZED (
         |  SELECT vec_id, m, code FROM (
         |    SELECT vec_id, m, code, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
         |    FROM ps$i)
         |  WHERE rn = 1),
         |pm$i AS MATERIALIZED (
         |  SELECT a.m, a.code, pex.pos,
         |    ${graft.functions.StableSum.dsumSql("pex.x")}
         |      / count(*)::DOUBLE AS mm
         |  FROM pa$i a JOIN pex
         |    ON a.vec_id = pex.vec_id AND a.m = pex.m
         |  GROUP BY a.m, a.code, pex.pos),
         |p$i AS MATERIALIZED (
         |  SELECT p.m, p.code, coalesce(n.ce, p.ce) AS ce
         |  FROM p${i - 1} p LEFT JOIN (
         |    SELECT m, code, list(mm ORDER BY pos) AS ce
         |    FROM pm$i GROUP BY m, code) n
         |  ON p.m = n.m AND p.code = n.code)""".stripMargin
    }
    (seed +: iters).mkString(",\n")
  }

  private def oraclePq =
    s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings),
       |${pqKmeansCtes(PqKmeansIters)},
       |book AS (SELECT m, code, ce FROM p$PqKmeansIters),
       |encd AS MATERIALIZED (
       |  SELECT vec_id, m, code FROM (
       |    SELECT sub.vec_id, sub.m, b.code, row_number() OVER (
       |      PARTITION BY sub.vec_id, sub.m ORDER BY
       |        ${pqDistSql("sub.sv", "b.ce")} ASC, b.code ASC) AS rn
       |    FROM sub JOIN book b ON sub.m = b.m)
       |  WHERE rn = 1),
       |recon AS MATERIALIZED (
       |  SELECT e.vec_id, flatten(list(b.ce ORDER BY e.m)) AS r
       |  FROM encd e JOIN book b ON e.m = b.m AND e.code = b.code
       |  GROUP BY e.vec_id),
       |scored AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    list_reduce(list_transform(range(1, 65),
       |      i -> q.e[i]::DOUBLE * n.r[i]), (x, y) -> x + y) AS pq_dot
       |  FROM v q JOIN recon n ON q.vec_id < $NumQueries
       |    AND q.vec_id != n.vec_id)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, pq_dot,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY pq_dot DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $TopK""".stripMargin

  /** IVF oracle with the quantizer refinement unrolled: c0 = the
    * sampled seed; per Lloyd step an assignment CTE (cosine argmax,
    * ties → lower cid), a per-(cid, dim) DECIMAL-stable mean CTE
    * ([[graft.functions.StableSum.dsumSql]] — the same exact,
    * order-independent sum the Spark side uses, so the refined
    * centroids are bit-identical), and a rebuilt centroid-list CTE
    * (a cid with no assigned vectors keeps its previous centroid);
    * the probe/score/rank tail then reads the refined c{K}.
    */
  private def ivfKmeansCtes(k: Int): String = {
    val seed =
      s"""c0 AS (SELECT vec_id AS cid, e AS ce FROM v
         |       WHERE vec_id < $NumCentroids),
         |ex AS MATERIALIZED (
         |  SELECT vec_id, u.i AS pos, u.v::DOUBLE AS x
         |  FROM (SELECT vec_id, unnest(list_transform(range(1, 65),
         |          i -> {'i': i, 'v': e[i]})) AS u
         |        FROM v))""".stripMargin
    val iters = (1 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT v.vec_id, c.cid,
         |    ${Hashing.cosineSql("v.e", "c.ce", 64)} AS c
         |  FROM v, c${i - 1} c),
         |a$i AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, cid ASC) AS rn FROM s$i)
         |  WHERE rn = 1),
         |m$i AS MATERIALIZED (
         |  SELECT a.cid, ex.pos,
         |    ${graft.functions.StableSum.dsumSql("ex.x")}
         |      / count(*)::DOUBLE AS m
         |  FROM a$i a JOIN ex ON a.vec_id = ex.vec_id
         |  GROUP BY a.cid, ex.pos),
         |c$i AS MATERIALIZED (
         |  SELECT p.cid, coalesce(n.ce, p.ce) AS ce
         |  FROM c${i - 1} p LEFT JOIN (
         |    SELECT cid, list(m ORDER BY pos) AS ce
         |    FROM m$i GROUP BY cid) n
         |  ON p.cid = n.cid)""".stripMargin
    }
    (seed +: iters).mkString(",\n")
  }

  /** The incremental-serving oracle: the SAME kmeans chain, but `v`
    * (what the quantizer trains on and the lists index) is the even-id
    * corpus snapshot and `q` the odd-id arriving batch.
    */
  private def oracleIncremental =
    s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings
       |           WHERE vec_id % 2 = 0),
       |q AS (SELECT vec_id, embedding e FROM embeddings
       |      WHERE vec_id % 2 = 1 AND vec_id < ${2 * NumQueries}),
       |${ivfKmeansCtes(IvfKmeansIters)},
       |cents AS (SELECT cid, ce FROM c$IvfKmeansIters),
       |cassign AS (
       |  SELECT v.vec_id, cents.cid,
       |    ${Hashing.cosineSql("v.e", "cents.ce", 64)} AS c
       |  FROM v, cents),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, cid ASC) AS rn FROM cassign)
       |  WHERE rn = 1),
       |qscore AS (
       |  SELECT q.vec_id, cents.cid,
       |    ${Hashing.cosineSql("q.e", "cents.ce", 64)} AS c
       |  FROM q, cents),
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, cid ASC) AS rn FROM qscore)
       |  WHERE rn <= $NumProbes),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probes p JOIN assign a ON p.cid = a.cid),
       |scored AS (
       |  SELECT qid AS query_id, nid AS neighbor_id,
       |    ${Hashing.cosineSql("a.e", "b.e", 64)} AS cos_sim
       |  FROM cand JOIN q a ON qid = a.vec_id JOIN v b ON nid = b.vec_id)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $TopK""".stripMargin

  private def oracleIvf =
    s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings),
       |${ivfKmeansCtes(IvfKmeansIters)},
       |cents AS (SELECT cid, ce FROM c$IvfKmeansIters),
       |cscore AS (
       |  SELECT v.vec_id, cents.cid,
       |    ${Hashing.cosineSql("v.e", "cents.ce", 64)} AS c
       |  FROM v, cents
       |),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, cid ASC) AS rn FROM cscore
       |  ) WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, cid ASC) AS rn FROM cscore
       |    WHERE vec_id < $NumQueries
       |  ) WHERE rn <= $NumProbes
       |),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probes p JOIN assign a ON p.cid = a.cid
       |  WHERE p.qid != a.vec_id
       |),
       |scored AS (
       |  SELECT qid AS query_id, nid AS neighbor_id,
       |    ${Hashing.cosineSql("a.e", "b.e", 64)} AS cos_sim
       |  FROM cand JOIN v a ON qid = a.vec_id JOIN v b ON nid = b.vec_id
       |)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $TopK""".stripMargin

  /** IVF+PQ oracle: the IVF quantizer chain (c0…c{K}, assignment,
    * probes) and the PQ codebook chain (sub, p0…p{K}, encode,
    * reconstruct) composed — CTE namespaces are disjoint by
    * construction — with the ADC scoring restricted to the probed
    * lists' candidates.
    */
  private def oracleIvfPq =
    s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings),
       |${ivfKmeansCtes(IvfKmeansIters)},
       |cents AS (SELECT cid, ce FROM c$IvfKmeansIters),
       |cscore AS (
       |  SELECT v.vec_id, cents.cid,
       |    ${Hashing.cosineSql("v.e", "cents.ce", 64)} AS c
       |  FROM v, cents
       |),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, cid ASC) AS rn FROM cscore
       |  ) WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, cid ASC) AS rn FROM cscore
       |    WHERE vec_id < $NumQueries
       |  ) WHERE rn <= $NumProbes
       |),
       |${pqKmeansCtes(PqKmeansIters)},
       |book AS (SELECT m, code, ce FROM p$PqKmeansIters),
       |encd AS MATERIALIZED (
       |  SELECT vec_id, m, code FROM (
       |    SELECT sub.vec_id, sub.m, b.code, row_number() OVER (
       |      PARTITION BY sub.vec_id, sub.m ORDER BY
       |        ${pqDistSql("sub.sv", "b.ce")} ASC, b.code ASC) AS rn
       |    FROM sub JOIN book b ON sub.m = b.m)
       |  WHERE rn = 1),
       |recon AS MATERIALIZED (
       |  SELECT e.vec_id, flatten(list(b.ce ORDER BY e.m)) AS r
       |  FROM encd e JOIN book b ON e.m = b.m AND e.code = b.code
       |  GROUP BY e.vec_id),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probes p JOIN assign a ON p.cid = a.cid
       |  WHERE p.qid != a.vec_id
       |),
       |scored AS (
       |  SELECT qid AS query_id, nid AS neighbor_id,
       |    list_reduce(list_transform(range(1, 65),
       |      i -> q.e[i]::DOUBLE * n.r[i]), (x, y) -> x + y) AS pq_dot
       |  FROM cand JOIN v q ON qid = q.vec_id
       |    JOIN recon n ON nid = n.vec_id)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, pq_dot,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY pq_dot DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $TopK""".stripMargin

  /** PCA oracle: DECIMAL-stable mean + covariance, the [[PcaIters]]
    * power-iteration steps unrolled as CTEs (matvec and norm folds
    * 0.0-seeded ascending — bit-equal to the driver loop), then the
    * centered projection.
    */
  private def pcaCtes: String = {
    val dsum = graft.functions.StableSum.dsumSql _
    val iters = (1 to PcaIters).map { t =>
      s"""y$t AS MATERIALIZED (
         |  SELECT cov.i,
         |    list_reduce(list_prepend(0.0e0,
         |      list(cov.c * p${t - 1}.x ORDER BY cov.j)),
         |      (a, b) -> a + b) AS y
         |  FROM cov JOIN p${t - 1} ON cov.j = p${t - 1}.i
         |  GROUP BY cov.i),
         |n$t AS (
         |  SELECT sqrt(list_reduce(list_prepend(0.0e0,
         |    list(y * y ORDER BY i)), (a, b) -> a + b)) AS nr
         |  FROM y$t),
         |p$t AS (SELECT i, y / nr AS x FROM y$t, n$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings),
       |ex AS MATERIALIZED (
       |  SELECT vec_id, u.i AS i, u.v::DOUBLE AS x
       |  FROM (SELECT vec_id, unnest(list_transform(range(1, 65),
       |          i -> {'i': i, 'v': e[i]})) AS u
       |        FROM v)),
       |mn AS MATERIALIZED (
       |  SELECT i, ${dsum("x")} / count(*)::DOUBLE AS m
       |  FROM ex GROUP BY i),
       |ctr AS MATERIALIZED (
       |  SELECT ex.vec_id, ex.i, ex.x - mn.m AS cx
       |  FROM ex JOIN mn USING (i)),
       |cov AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, ${dsum("a.cx * b.cx")} AS c
       |  FROM ctr a JOIN ctr b ON a.vec_id = b.vec_id
       |  GROUP BY a.i, b.i),
       |p0 AS (SELECT unnest(range(1, 65)) AS i, 0.125e0 AS x),
       |$iters,
       |proj AS MATERIALIZED (
       |  SELECT c.vec_id,
       |    list_reduce(list_prepend(0.0e0,
       |      list(c.cx * p$PcaIters.x ORDER BY c.i)), (a, b) -> a + b)
       |      AS pc1
       |  FROM ctr c JOIN p$PcaIters ON c.i = p$PcaIters.i
       |  GROUP BY c.vec_id)""".stripMargin
  }

  private def oraclePca: String =
    s"""$pcaCtes
       |SELECT vec_id, pc1 FROM proj""".stripMargin

  private def oracleAbttEval: String = {
    def top(src: String) =
      s"""SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${Hashing.cosineSql("q.e", "n.e", 64)} DESC,
         |      n.vec_id ASC) AS rn
         |  FROM $src q JOIN $src n ON q.vec_id < $NumQueries
         |    AND q.vec_id != n.vec_id
         |) WHERE rn <= $TopK""".stripMargin
    s"""$pcaCtes,
       |wl AS MATERIALIZED (
       |  SELECT c.vec_id,
       |    list(c.cx - proj.pc1 * p$PcaIters.x ORDER BY c.i) AS e
       |  FROM ctr c
       |  JOIN proj ON c.vec_id = proj.vec_id
       |  JOIN p$PcaIters ON c.i = p$PcaIters.i
       |  GROUP BY c.vec_id),
       |ap AS (
       |  SELECT 'abtt' AS method, query_id, neighbor_id
       |  FROM (${top("wl")}) t1
       |  UNION ALL
       |  SELECT 'raw' AS method, query_id, neighbor_id
       |  FROM (${top("v")}) t2),
       |lab AS (SELECT vec_id, label FROM embeddings)
       |SELECT method, count(*)::BIGINT AS n_pairs,
       |  sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END)::BIGINT
       |    AS n_same_label,
       |  sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*)::DOUBLE AS agreement
       |FROM ap
       |JOIN lab ql ON ap.query_id = ql.vec_id
       |JOIN lab nl ON ap.neighbor_id = nl.vec_id
       |GROUP BY method""".stripMargin
  }

  private def oracleAbtt: String =
    s"""$pcaCtes
       |SELECT c.vec_id, c.i AS dim,
       |  c.cx - proj.pc1 * p$PcaIters.x AS w
       |FROM ctr c
       |JOIN proj ON c.vec_id = proj.vec_id
       |JOIN p$PcaIters ON c.i = p$PcaIters.i""".stripMargin

  val oracle: Map[String, String] = Map(
    "llm_emb_pca" -> oraclePca,
    "llm_emb_abtt" -> oracleAbtt,
    "llm_emb_abtt_eval" -> oracleAbttEval,
    "llm_classify" -> {
      // Two DuckDB literal traps, both measured on this fixture:
      // (1) a bare numeric literal parses as DECIMAL — rounding the
      //     weight BEFORE the double conversion (off by an ulp) — so
      //     every weight rides a VARCHAR→DOUBLE cast, which parses the
      //     shortest-repr string to the exact Scala double;
      // (2) the UNROLLED `+` chain (left-associative, each op correctly
      //     rounded) is the expression loop's fold order bit-for-bit.
      val terms = ClassifierWeights.zipWithIndex.map { case (w, i) =>
        s"(embedding[${i + 1}]::DOUBLE * ('$w'::DOUBLE))"
      }.mkString("\n      + ")
      s"""SELECT vec_id, label, m AS margin, m > 0.0 AS pred
         |FROM (SELECT vec_id, label,
         |        $terms AS m
         |      FROM embeddings)""".stripMargin
    },
    "llm_sim_hard_negatives" ->
      s"""WITH v AS (SELECT vec_id, embedding e, label FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    n.label AS neighbor_label,
         |    ${Hashing.cosineSql("q.e", "n.e", 64)} AS cos_sim
         |  FROM v q JOIN v n ON q.vec_id < $NumQueries
         |    AND q.vec_id != n.vec_id AND q.label != n.label
         |)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id, neighbor_label, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |) WHERE rank <= $TopK""".stripMargin,
    "llm_sim_binary_topk" -> oracleBinary,
    "llm_sim_int8_topk" -> oracleInt8,
    "llm_sim_mmr_topk" -> oracleMmr,
    // one sliced-cosine scored set per budget, recalled against the
    // full-dimension exact top-k
    "llm_sim_matryoshka" -> {
      val per = MrlBudgets.map { b =>
        s"""sb_$b AS (
           |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           |    ${Hashing.cosineSql("q.e", "n.e", b)} AS cs
           |  FROM v q JOIN v n ON q.vec_id < $NumQueries
           |    AND q.vec_id != n.vec_id),
           |ab_$b AS MATERIALIZED (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY cs DESC,
           |      neighbor_id ASC) AS rank
           |    FROM sb_$b) WHERE rank <= $TopK),
           |hb_$b AS (
           |  SELECT count(*)::BIGINT AS n_hit FROM ab_$b a
           |  JOIN ex ON ex.query_id = a.query_id
           |    AND ex.neighbor_id = a.neighbor_id)""".stripMargin
      }.mkString(",\n")
      val rows = MrlBudgets.map { b =>
        s"""SELECT $b::BIGINT AS dims, t.n_exact, hb_$b.n_hit,
           |  hb_$b.n_hit::DOUBLE / t.n_exact::DOUBLE AS recall
           |FROM hb_$b, t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings),
         |exs AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    ${Hashing.cosineSql("q.e", "n.e", 64)} AS cs
         |  FROM v q JOIN v n ON q.vec_id < $NumQueries
         |    AND q.vec_id != n.vec_id),
         |ex AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cs DESC,
         |      neighbor_id ASC) AS rank
         |    FROM exs) WHERE rank <= $TopK),
         |t AS (SELECT count(*)::BIGINT AS n_exact FROM ex),
         |$per
         |$rows""".stripMargin
    },
    "llm_emb_quantize" ->
      """SELECT vec_id, u.i - 1 AS i, scale,
        |  CASE WHEN scale = 0 THEN 0
        |       ELSE floor(u.v::DOUBLE * 127.0 / scale + 0.5)::BIGINT
        |  END AS q
        |FROM (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
        |      AS scale,
        |    unnest(list_transform(range(1, len(embedding) + 1),
        |      i -> {'i': i, 'v': embedding[i]})) AS u
        |  FROM embeddings)""".stripMargin,
    "llm_embed_drift" ->
      s"""SELECT dim,
        |  sum(CASE WHEN snap_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |  sum(CASE WHEN snap_a THEN 0 ELSE 1 END)::BIGINT AS n_b,
        |  ${graft.functions.StableSum
        .dsumSql("CASE WHEN snap_a THEN v END")}
        |    / sum(CASE WHEN snap_a THEN 1 ELSE 0 END)::DOUBLE AS mean_a,
        |  ${graft.functions.StableSum
        .dsumSql("CASE WHEN NOT snap_a THEN v END")}
        |    / sum(CASE WHEN snap_a THEN 0 ELSE 1 END)::DOUBLE AS mean_b,
        |  ${graft.functions.StableSum
        .dsumSql("CASE WHEN snap_a THEN v END")}
        |    / sum(CASE WHEN snap_a THEN 1 ELSE 0 END)::DOUBLE
        |  - ${graft.functions.StableSum
        .dsumSql("CASE WHEN NOT snap_a THEN v END")}
        |    / sum(CASE WHEN snap_a THEN 0 ELSE 1 END)::DOUBLE AS diff
        |FROM (
        |  SELECT vec_id % 2 = 0 AS snap_a, u.i - 1 AS dim,
        |    u.v::DOUBLE AS v
        |  FROM (
        |    SELECT vec_id,
        |      unnest(list_transform(range(1, len(embedding) + 1),
        |        i -> {'i': i, 'v': embedding[i]})) AS u
        |    FROM embeddings))
        |GROUP BY dim""".stripMargin,
    "llm_emb_centroids" ->
      s"""SELECT label, u.i - 1 AS dim, count(*)::BIGINT AS n,
        |  ${graft.functions.StableSum.dsumSql("u.v::DOUBLE")}
        |    / count(*)::DOUBLE AS centroid
        |FROM (
        |  SELECT label,
        |    unnest(list_transform(range(1, len(embedding) + 1),
        |      i -> {'i': i, 'v': embedding[i]})) AS u
        |  FROM embeddings)
        |GROUP BY label, u.i""".stripMargin,
    "llm_sim_topk" -> topkOracleSql,
    // identical answer contract: the custom aggregate must reproduce the
    // window ranking row-for-row
    "llm_sim_topk_agg" -> topkOracleSql,
    "llm_sim_lsh_topk" -> oracleLsh,
    "llm_sim_ivf_topk" -> oracleIvf,
    "llm_cluster_purity" ->
      s"""WITH v AS (SELECT vec_id, embedding e FROM embeddings),
         |${ivfKmeansCtes(IvfKmeansIters)},
         |cents AS (SELECT cid, ce FROM c$IvfKmeansIters),
         |cscore AS (
         |  SELECT v.vec_id, cents.cid,
         |    ${Hashing.cosineSql("v.e", "cents.ce", 64)} AS c
         |  FROM v, cents),
         |assign AS (
         |  SELECT s.vec_id, s.cid, e.label::BIGINT AS label FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, cid ASC) AS rn FROM cscore
         |  ) s JOIN embeddings e ON e.vec_id = s.vec_id
         |  WHERE s.rn = 1),
         |cnt AS (SELECT cid, label, count(*)::BIGINT AS n
         |        FROM assign GROUP BY 1, 2),
         |per AS (
         |  SELECT r.cid, m.n_members, r.label AS top_label,
         |    r.n AS n_top
         |  FROM (SELECT *, row_number() OVER (PARTITION BY cid
         |          ORDER BY n DESC, label) AS rk FROM cnt) r
         |  JOIN (SELECT cid, sum(n)::BIGINT AS n_members FROM cnt
         |        GROUP BY 1) m ON m.cid = r.cid
         |  WHERE r.rk = 1)
         |SELECT cid, n_members, top_label, n_top,
         |  n_top::DOUBLE / n_members::DOUBLE AS purity
         |FROM per
         |UNION ALL
         |SELECT -1::BIGINT, sum(n_members)::BIGINT, -1::BIGINT,
         |  sum(n_top)::BIGINT,
         |  sum(n_top)::DOUBLE / sum(n_members)::DOUBLE
         |FROM per""".stripMargin,
    "llm_sim_incremental" -> oracleIncremental,
    "llm_sim_pq_topk" -> oraclePq,
    "llm_sim_ivfpq_topk" -> oracleIvfPq,
    // recall = |approx ∩ exact| / |exact| per method, with each side's
    // pipeline replayed verbatim as a nested-CTE subquery — the oracle
    // prices the exact baseline AND all three approximations, then the
    // recall arithmetic, identically
    "llm_sim_recall" -> {
      def pairs(sql: String) =
        s"(SELECT query_id, neighbor_id FROM ($sql) zz)"
      s"""WITH exact AS ${pairs(topkOracleSql)},
         |ap AS (
         |  SELECT 'binary' AS method, query_id, neighbor_id
         |  FROM ${pairs(oracleBinary)} a0
         |  UNION ALL
         |  SELECT 'int8' AS method, query_id, neighbor_id
         |  FROM ${pairs(oracleInt8)} a1
         |  UNION ALL
         |  SELECT 'ivf' AS method, query_id, neighbor_id
         |  FROM ${pairs(oracleIvf)} a2
         |  UNION ALL
         |  SELECT 'lsh' AS method, query_id, neighbor_id
         |  FROM ${pairs(oracleLsh)} a3
         |  UNION ALL
         |  SELECT 'pq' AS method, query_id, neighbor_id
         |  FROM ${pairs(oraclePq)} a4
         |  UNION ALL
         |  SELECT 'ivfpq' AS method, query_id, neighbor_id
         |  FROM ${pairs(oracleIvfPq)} a5
         |),
         |hits AS (
         |  SELECT method, count(*)::BIGINT AS n_hit FROM ap
         |  WHERE EXISTS (SELECT 1 FROM exact e
         |                WHERE e.query_id = ap.query_id
         |                  AND e.neighbor_id = ap.neighbor_id)
         |  GROUP BY method
         |),
         |tot AS (SELECT count(*)::BIGINT AS n_exact FROM exact)
         |SELECT m.method, tot.n_exact,
         |  coalesce(hits.n_hit, 0)::BIGINT AS n_hit,
         |  coalesce(hits.n_hit, 0)::DOUBLE / tot.n_exact::DOUBLE AS recall
         |FROM (VALUES ('binary'), ('int8'), ('ivf'), ('ivfpq'), ('lsh'),
         |  ('pq'))
         |  m(method)
         |LEFT JOIN hits ON m.method = hits.method
         |CROSS JOIN tot""".stripMargin
    },
    // the IVF quantizer CTEs replayed, then the llm_sample_topn md5
    // ordering rule inside each cluster
    "llm_sample_cluster" -> sampleClusterOracleSql("", "SELECT * FROM v")
  )

  /** The sample-cluster oracle parameterized for composition: the
    * quantizer always trains on the FULL corpus (`v`), while
    * `vvSelect` picks the rows that get assigned and capped —
    * `llm_curate_diverse` passes the curated key set ([[sampleClusterFor]]'s
    * contract, replayed).
    */
  private[operators] def sampleClusterOracleSql(extraCtes: String,
      vvSelect: String): String =
    s"""WITH ${extraCtes}v AS (SELECT vec_id, embedding e FROM embeddings),
       |${ivfKmeansCtes(IvfKmeansIters)},
       |cents AS (SELECT cid, ce FROM c$IvfKmeansIters),
       |vv AS ($vvSelect),
       |cscore AS (
       |  SELECT vv.vec_id, cents.cid,
       |    ${Hashing.cosineSql("vv.e", "cents.ce", 64)} AS c
       |  FROM vv, cents
       |),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, cid ASC) AS rn FROM cscore
       |  ) WHERE rn = 1
       |),
       |sz AS (SELECT cid, count(*)::BIGINT AS cluster_n
       |       FROM assign GROUP BY cid)
       |SELECT vec_id, cid, cluster_n, rk FROM (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY cid
       |      ORDER BY md5(vec_id::VARCHAR), vec_id)::BIGINT AS rk
       |  FROM assign) a
       |JOIN sz USING (cid)
       |WHERE rk <= $ClusterSampleCap""".stripMargin
}

package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Sgd.Obs

/** The reference's literal file formats as engine sources/sinks, so a
  * user of the reference can point this library at their existing data:
  *
  *  - transaction lines: one basket per line, whitespace-separated items
  *    (`apriori/apriori_final.java:6` "Item1 Item2 Item3…",
  *    `StringTokenizer` at `:50-51`, `TextInputFormat` at `:259`);
  *  - labeled vector lines: `y x1 x2 …` doubles with an implicit bias
  *    x0 = 1.0 prepended (`multilinereg/multilinereg.java:3, 58-66`,
  *    bias at `:61`);
  *  - `key<TAB>value` text sink (`TextOutputFormat`,
  *    `apriori_final.java:260`).
  *
  * Scans stay distributed (spark.read.text splits files); parsing is
  * per-row column expressions. The parquet star-schema loaders in
  * [[graft.Tables]] remain the primary path — these adapters exist for
  * format parity.
  */
object TextSources {

  /** Basket file → `items: ARRAY<STRING>` (one row per transaction).
    * Blank lines are dropped, repeated whitespace tolerated — matching
    * StringTokenizer semantics.
    */
  def transactions(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(split(trim(col("value")), "\\s+").as("items"))
      .where(size(col("items")) > 0 && col("items")(0) =!= "")

  /** Labeled vector file → `Dataset[Obs]` with the bias prepended and a
    * deterministic per-line id (file read order, like the reference's
    * sequential map over each split).
    */
  def labeledVectors(spark: SparkSession, path: String): Dataset[Obs] = {
    val s = spark; import s.implicits._
    spark.read.textFile(path).rdd
      .zipWithIndex()
      .toDF("value", "id")
      .select(col("id"), split(trim(col("value")), "\\s+").as("t"))
      .where(size(col("t")) >= 2 && col("t")(0) =!= "")
      .select(
        col("id"),
        expr("try_cast(t[0] AS DOUBLE)").as("y"),
        concat(
          array(lit(1.0)),
          expr("transform(slice(t, 2, size(t) - 1)," +
            " v -> try_cast(v AS DOUBLE))"))
          .as("x"))
      // drop malformed lines (non-numeric tokens cast to null) instead of
      // failing at Obs decode — StringTokenizer-era inputs are dirty
      .where(col("y").isNotNull
        && !array_contains(transform(col("x"), _.isNull), true))
      .as[Obs]
  }

  /** Document file → `(doc_id, text)`: one document per line with a
    * deterministic line-order id — the corpus shape every dedup /
    * text-analysis `…Of` operator accepts, so e.g.
    * `Dedup.minhashLshOf(TextSources.documents(spark, path))` runs the
    * near-dup pipeline straight off raw text files.
    */
  def documents(spark: SparkSession, path: String): DataFrame = {
    val s = spark; import s.implicits._
    spark.read.textFile(path).rdd
      .zipWithIndex()
      .toDF("text", "doc_id")
      // normalize to the single-space-joined contract the text/dedup
      // operators tokenize against (raw files have ragged whitespace)
      .select(col("doc_id"),
        regexp_replace(trim(col("text")), "\\s+", " ").as("text"))
      .where(length(col("text")) > 0)
  }

  /** `key<TAB>value` line sink: the named columns are tab-joined in
    * order and written as text part files.
    */
  def writeKV(df: DataFrame, path: String, cols: String*): Unit =
    df.select(concat_ws("\t", cols.map(col): _*).as("value"))
      .write.mode("overwrite").text(path)

  /** JSONL (one JSON object per line) corpus reader — the de-facto
    * interchange format of LLM training data. The explicit schema keeps
    * the read single-pass (no sampling inference job) and the scan
    * splittable; `mode=PERMISSIVE` nulls malformed lines, which are then
    * dropped like every other dirty-input path here. Output is the same
    * `(doc_id, lang, text)` shape as the parquet documents table, so all
    * `…Of` operators compose.
    */
  def jsonlDocuments(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("doc_id BIGINT, lang STRING, text STRING")
      .option("mode", "PERMISSIVE")
      .json(path)
      .where(col("doc_id").isNotNull && col("text").isNotNull)

  /** JSONL corpus sink: one compact JSON object per line, the shape
    * [[jsonlDocuments]] reads back.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC corpus reader — the other columnar interchange format Spark
    * ships natively (Hive-ecosystem corpora arrive as ORC). Same
    * `(doc_id, lang, text)` contract as [[jsonlDocuments]], so every
    * `…Of` operator composes; predicate pushdown and column pruning
    * reach ORC scans exactly as they do parquet.
    */
  def orcDocuments(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
      .select("doc_id", "lang", "text")
      .where(col("doc_id").isNotNull && col("text").isNotNull)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** CSV corpus reader: explicit schema (single-pass, no inference
    * job), header row, standard quoting — Spark's writer quotes
    * embedded delimiters/newlines and this reader round-trips them.
    */
  def csvDocuments(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("doc_id BIGINT, lang STRING, text STRING")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
      .where(col("doc_id").isNotNull && col("text").isNotNull)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Per-application scratch path for round-trip entries (text/JSONL
    * write-then-read-back parity checks). The path embeds the Spark
    * `applicationId`, so two JVMs/sessions benching the same fixture dir
    * can never overwrite each other's file mid-read, plus the SANITIZED
    * source dir (not just its hashCode), so two different dirs can never
    * silently serve each other's corpus. The per-app root is removed by
    * a JVM shutdown hook — round-trip scratch never outlives the
    * process. (Within one session, repeated calls overwrite the same
    * path with identical deterministic content; Verify/Bench run entries
    * sequentially, so there is no overwrite-while-read window.)
    */
  def scratchPath(spark: SparkSession, tag: String, dir: String): String = {
    val root = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      "graft_scratch_" + spark.sparkContext.applicationId)
    if (cleanupRegistered.putIfAbsent(root.getPath, true) == null) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(root)))
    }
    // bounded suffix of the sanitized dir: keeps the component readable
    // AND under the 255-byte filename limit for deep fixture paths; the
    // appended dir.hashCode hex carries the disambiguation
    val safe0 = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val safe = safe0.substring(math.max(0, safe0.length - 80))
    new java.io.File(root,
      s"${tag}_${safe}_${Integer.toHexString(dir.hashCode)}").getPath
  }

  /** Run `write` only on the FIRST call per scratch path: the content
    * under a [[scratchPath]] is a pure function of (tag, dir) within an
    * application (deterministic dumps of the fixture tables), so the
    * round-trip entries' write side is idempotent — and Bench invokes
    * each entry several times per run, where rewriting per rep is pure
    * wasted I/O (r9: `apriori_freq_items_text` rep1 7.0 s vs rep3
    * 1.3 s). A failed write clears the marker so the next call retries
    * instead of reading a half-written directory. Callers that rewrite
    * the SOURCE tables under a cached dir mid-session invalidate via
    * [[invalidateScratch]] (the cache-invalidation discipline of
    * [[graft.SessionCache.invalidate]]).
    *
    * The marker is a completion LATCH, not a pre-write boolean: a
    * second caller racing the first write awaits the latch instead of
    * skipping straight into a directory still being written
    * (Verify/Bench invoke entries sequentially, so the await is
    * normally free — the latch closes the window for any concurrent
    * embedder). A waiter whose writer FAILED (latch released, marker
    * removed) re-enters and retries the write itself.
    *
    * CONTRACT — no re-entrancy: `write` must not call writeOnce on the
    * SAME path (the owning thread would await its own unreleased latch
    * and self-deadlock; the pre-latch boolean version returned
    * immediately, which was the silent half of the same bug — the
    * inner caller proceeded into a half-written directory). Nested
    * writeOnce on a DIFFERENT path is fine. And the await is bounded:
    * a waiter re-checks the map every [[WriteOncePollSec]] seconds (a
    * writer thread killed without unwinding — Thread.stop class —
    * would otherwise strand waiters forever) and after
    * [[WriteOnceMaxWaitSec]] fails loudly naming the path rather than
    * hanging the caller.
    */
  def writeOnce(path: String)(write: => Unit): Unit = {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val prev = writtenOnce.putIfAbsent(path, latch)
    if (prev == null) {
      try write
      catch { case e: Throwable =>
        writtenOnce.remove(path, latch); throw e
      } finally latch.countDown()
    } else {
      var waited = 0L
      while (!prev.await(WriteOncePollSec,
          java.util.concurrent.TimeUnit.SECONDS)) {
        waited += WriteOncePollSec
        // the entry changing under us means our writer failed and a
        // successor took over — re-enter and wait on (or become) it
        if (writtenOnce.get(path) ne prev) { writeOnce(path)(write); return }
        if (waited >= WriteOnceMaxWaitSec)
          throw new IllegalStateException(
            s"graft: writeOnce($path) waited ${waited}s on a writer " +
              "that neither finished nor failed — stranded latch " +
              "(writer killed without unwinding?); invalidateScratch() " +
              "and retry")
      }
      // writer gone from the map ⇒ it failed after we started waiting:
      // take over the write (or wait on whoever already did)
      if (writtenOnce.get(path) ne prev) writeOnce(path)(write)
    }
  }

  /** Waiter poll / give-up bounds for [[writeOnce]] (seconds). The max
    * is generous — a fixture dump is seconds, not minutes — so a real
    * slow writer never trips it; only a stranded latch does.
    */
  val WriteOncePollSec = 15L
  val WriteOnceMaxWaitSec = 600L

  def invalidateScratch(): Unit = writtenOnce.clear()

  private val writtenOnce = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CountDownLatch]

  private val cleanupRegistered =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Range-partitioned, sorted parquet layout: repartition by value
    * RANGES of `column` (sampled split points), sort within each
    * partition, write one file per range. Files then carry DISJOINT
    * min/max footer statistics on `column`, so a later filtered scan
    * skips every non-matching file outright — the write-side half of
    * predicate pushdown, and the single biggest scan lever at 100 TB
    * (a point/range query touches O(1) of the corpus's files instead of
    * all of them). The spec reads the footers back and asserts the
    * ranges really are disjoint.
    */
  def writeRangeSorted(df: DataFrame, column: String, path: String,
      partitions: Int): Unit =
    df.repartitionByRange(partitions, col(column))
      .sortWithinPartitions(column)
      .write.mode("overwrite").parquet(path)

  /** Hive-style partitioned parquet layout: one directory per value of
    * `column` (`lang=en/…`). A later read filtered on the partition
    * column prunes whole directories at PLANNING time (the scan's
    * PartitionFilters — no footer even gets opened), the coarsest and
    * cheapest skipping tier above [[writeRangeSorted]]'s footer
    * min/max. The partition column must be low-cardinality (languages,
    * dates, sources): every value is a filesystem directory, and a
    * high-cardinality key degenerates into millions of tiny files.
    */
  def writePartitioned(df: DataFrame, column: String,
      path: String): Unit =
    df.write.mode("overwrite").partitionBy(column).parquet(path)

  /** Default per-key bit width for [[zValue]] (2·max width ≤ 62, the
    * enforced bound — sign bit and top bit stay clear).
    */
  val ZBits = 21

  /** Morton/Z-value of two non-negative integer columns, MSB-ALIGNED:
    * the j-th most significant bit of each key (within its declared
    * width) lands at paired positions, so the curve's coarsest splits
    * alternate between the two dimensions even when their domains have
    * very different widths (LSB-aligned interleaving lets the wider
    * key's top bits dominate every file boundary and the narrow key
    * never prunes). All shift amounts are literals — a flat
    * codegen-friendly OR chain, no UDF, no fold.
    */
  def zValue(a: String, b: String,
      bitsA: Int = ZBits, bitsB: Int = ZBits): Column = {
    // positions run to 2·max−1, so it is the MAX width (not the sum)
    // that must fit below the sign bit; JVM shifts mask the amount
    // mod 64, which would silently scramble rather than error
    require(2 * math.max(bitsA, bitsB) <= 62,
      "z-value must fit a signed long: 2*max(bitsA,bitsB) <= 62")
    val m = math.max(bitsA, bitsB)
    // cast to bigint: int-typed keys would otherwise shift mod 32
    val (la, lb) = (s"cast($a as bigint)", s"cast($b as bigint)")
    val terms = (0 until m).flatMap { j =>
      val pa = 2 * (m - 1 - j)
      val ia = bitsA - 1 - j
      val ib = bitsB - 1 - j
      Seq(
        Option.when(ia >= 0)(
          s"shiftleft(shiftright($la, $ia) & 1, $pa)"),
        Option.when(ib >= 0)(
          s"shiftleft(shiftright($lb, $ib) & 1, ${pa + 1})")).flatten
    }
    expr(terms.mkString("(", " | ", ")"))
  }

  /** Z-ordered parquet layout: range-partition + sort on the MORTON
    * interleaving of TWO keys, so per-file min/max footer ranges are
    * narrow on BOTH columns and a filter on EITHER key skips most
    * files. [[writeRangeSorted]] can only serve its one sort key —
    * the second dimension scatters across every file; Z-order is the
    * standard multi-dimensional clustering answer (Delta/Iceberg
    * OPTIMIZE ZORDER) expressed with stock Spark: derive z, range-write
    * on it, drop it. Keys must be non-negative; pass each key's actual
    * bit width (bits to cover its max value) so the MSB alignment is
    * tight — a loose width wastes the top splits on constant-zero bits.
    */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
      path: String, partitions: Int,
      bitsA: Int = ZBits, bitsB: Int = ZBits): Unit =
    df.withColumn("__z", zValue(colA, colB, bitsA, bitsB))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
}

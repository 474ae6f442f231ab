package graft

import org.apache.spark.sql.functions._
import graft.functions.DotProduct
import graft.operators.{Apriori, Dedup}

/** The custom Catalyst expression: value parity with the JVM kernel,
  * availability through SQL (extensions + runtime registration), and
  * actual codegen participation in the query plans that use it.
  */
class DotProductSpec extends SparkSpecBase {

  test("graft_dot equals the sequential kernel, via SQL and Column API") {
    val s = spark; import s.implicits._
    DotProduct.register(spark)
    val a = Array(1.5, -2.0, 3.25, 0.0)
    val b = Array(0.5, 4.0, -1.0, 9.9)
    val want = { // ascending-index sequential sum, the contract order
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val viaSql = Seq((a, b)).toDF("a", "b")
      .selectExpr("graft_dot(a, b) as d").collect()(0).getDouble(0)
    assert(viaSql == want)
    val viaCol = Seq((a, b)).toDF("a", "b")
      .select(DotProduct.dot(spark, col("a"), col("b"))).collect()(0)
      .getDouble(0)
    assert(viaCol == want)
  }

  test("graft_subsets generator matches subsetKeys row-for-row via SQL") {
    val s = spark; import s.implicits._
    graft.functions.SubsetsGenerator.register(spark)
    val baskets = Seq(
      Seq("a", "b", "c"),
      Seq("x"),
      Seq.empty[String])
    baskets.map(Tuple1(_)).toDF("items")
      .createOrReplaceTempView("subsets_gen_test")
    val got = spark.sql(
      """SELECT itemset, k FROM subsets_gen_test
        |LATERAL VIEW graft_subsets(items) t AS itemset, k""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val want = baskets
      .flatMap(b => graft.operators.Apriori.subsetKeys(b))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == want)
    // 2^3-1 + 1 + 0 subsets in total (singletons included)
    assert(got.values.sum == 8)
    // one row in, so the rows come out in the generator's own order:
    // k ascending, then lexicographic over positions, as subsetKeys
    val ordered = spark.sql(
      "SELECT graft_subsets(array('a', 'b', 'c', 'd')) AS (itemset, k)")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(ordered ==
      graft.operators.Apriori.subsetKeys(Seq("a", "b", "c", "d")).toSeq)
    // null arrays generate nothing instead of crashing
    assert(spark.sql(
      """SELECT itemset FROM (SELECT cast(null as array<string>) AS items)
        |LATERAL VIEW graft_subsets(items) t AS itemset, k""".stripMargin)
      .count() == 0)
  }

  test("graft_dot handles mismatched lengths and null arrays") {
    val s = spark; import s.implicits._
    DotProduct.register(spark)
    val d = Seq((Array(1.0, 2.0, 5.0), Array(3.0, 4.0)))
      .toDF("a", "b").selectExpr("graft_dot(a, b) as d")
      .collect()(0).getDouble(0)
    assert(d == 11.0) // min-length semantics
    val n = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d")
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("apriori enumeration runs its generators inside whole-stage " +
    "codegen (r17: CollectionGenerator, not CodegenFallback)") {
    // the r17 optimization contract for the enumeration family: the
    // Generate node must sit INSIDE a WholeStageCodegen span (the `*(n)`
    // marker), fusing enumerate→filter→partial-agg — a CodegenFallback
    // generator would break the stage exactly where the 2^k fan-out
    // meets the aggregation
    def generateLine(df: org.apache.spark.sql.DataFrame, fn: String)
        : String = {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val l = p.linesIterator.find(l =>
        l.contains("Generate") && l.contains(fn))
      assert(l.nonEmpty, s"no Generate[$fn] in:\n$p")
      assert(l.get.contains("*("),
        s"$fn Generate not codegen'd:\n$p")
      l.get
    }
    // the uncached form of the `candidates` build's supportsOf plan
    generateLine(Apriori.itemsetSupportsOf(Apriori.transactions(spark, Sf)),
      "graft_subsets")
    generateLine(Apriori.assocRules(spark, Sf), "graft_antecedents")
    // the SQL k form, `graft_subsets(items, k)`, is public: its
    // size-filter → generate → aggregate plan must fuse the same way
    // (the level-wise entry itself runs plain RDD jobs, not this plan)
    val s = spark; import s.implicits._
    graft.functions.SubsetsGenerator.register(spark)
    val level = Seq(Seq("a", "b", "c"), Seq("a", "c", "d"))
      .map(Tuple1(_)).toDF("fitems")
      .where(size(col("fitems")) >= 2)
      .selectExpr("graft_subsets(fitems, 2) AS (itemset, k)")
      .groupBy("itemset").agg(count(lit(1)).as("cnt"))
    generateLine(level, "graft_subsets")
  }

  test("graft_subsets(items, k) emits only the size-k combinations") {
    val s = spark; import s.implicits._
    graft.functions.SubsetsGenerator.register(spark)
    val got = Seq(Seq("a", "b", "c", "d"), Seq("x"), Seq.empty[String])
      .map(Tuple1(_)).toDF("items")
      .selectExpr("graft_subsets(items, 2) AS (itemset, k)")
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    assert(got == Seq("a b", "a c", "a d", "b c", "b d", "c d").map((_, 2)))
    // k out of range, a null k and null arrays generate nothing
    assert(spark.sql(
      """SELECT itemset FROM (SELECT cast(null as array<string>) AS items)
        |LATERAL VIEW graft_subsets(items, 2) t AS itemset, k""".stripMargin)
      .count() == 0)
    val one = Seq(Tuple1(Seq("a"))).toDF("items")
    Seq("3", "0", "-1", "cast(null as int)").foreach { k =>
      assert(one.selectExpr(s"graft_subsets(items, $k) AS (itemset, k)")
        .count() == 0, s"k = $k")
    }
  }

  test("generators bound their fan-out: wide inputs fail naming the " +
    "function and width") {
    val s = spark; import s.implicits._
    graft.functions.SubsetsGenerator.register(spark)
    graft.functions.AntecedentsGenerator.register(spark)
    def wide(n: Int) = Seq(Tuple1((0 until n).map(i => s"i$i")))
      .toDF("items")
    def messages(e: Throwable) = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // 2^31 - 1 used to wrap to a negative array size, and 2^32 - 1 to
    // an empty result; both now stop before allocating anything
    for (n <- Seq(31, 32); fn <- Seq("graft_subsets", "graft_antecedents")) {
      val out = if (fn == "graft_subsets") "(itemset, k)" else "(a, c)"
      val msgs = messages(intercept[Exception](
        wide(n).selectExpr(s"$fn(items) AS $out").collect()))
      assert(msgs.contains(s"$fn: a $n-item input array"), msgs)
      assert(!msgs.contains("NegativeArraySize"), msgs)
    }
    // with k the bound is on C(n, k), not 2^n: 32 choose 2 is fine,
    // 32 choose 16 is not
    assert(wide(32).selectExpr("graft_subsets(items, 2) AS (itemset, k)")
      .count() == 32 * 31 / 2)
    val msgs = messages(intercept[Exception](wide(32)
      .selectExpr("graft_subsets(items, 16) AS (itemset, k)").collect()))
    assert(msgs.contains("graft_subsets: a 32-item input array"), msgs)
    // the widest full enumeration inside the bound still runs
    assert(wide(16).selectExpr("graft_subsets(items) AS (itemset, k)")
      .count() == (1 << 16) - 1)
  }

  test("graft_subsets rejects a non-literal k at analysis") {
    val s = spark; import s.implicits._
    graft.functions.SubsetsGenerator.register(spark)
    val df = Seq((Seq("a", "b"), 2)).toDF("items", "n")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.selectExpr("graft_subsets(items, n) AS (itemset, k)"))
    assert(e.getMessage.contains("graft_subsets"), e.getMessage)
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }

  test("graft_shingles rejects n <= 0 and a null n at analysis") {
    val s = spark; import s.implicits._
    val df = Seq("a b c").toDF("text")
    Seq("0", "-2", "CAST(NULL AS INT)").foreach { n =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.selectExpr(s"graft_shingles(text, $n) AS s"))
      assert(e.getMessage.contains("graft_shingles"), e.getMessage)
    }
  }

  test("graft_token_count rejects a delimiter that is not a one-" +
    "character string literal at analysis") {
    // analysis only, never executed: an empty delimiter would loop
    // forever in the count, and a longer one would count overlapping
    // matches
    val s = spark; import s.implicits._
    val df = Seq(("aaa", "a")).toDF("text", "d")
    df.selectExpr("graft_token_count(text, ' ') AS n") // the accepted shape
    Seq("''", "'aa'", "d", "CAST(NULL AS STRING)").foreach { d =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.selectExpr(s"graft_token_count(text, $d) AS n"))
      assert(e.getMessage.contains("graft_token_count"), e.getMessage)
    }
  }

  test("extension-registered functions check their argument count") {
    // a fresh session sees only the GraftExtensions registrations (the
    // per-session register calls above replace them on `spark`)
    val fresh = spark.newSession()
    val df = fresh.sql("SELECT array(1.0D) AS a, 0.5D AS score, 7L AS id, " +
      "'a b' AS text")
    def messages(e: Throwable) = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    Seq(
      "graft_dot" -> Seq("a", "a, a, a"),
      "graft_topk" -> Seq("score, id", "score, id, 2, 3"),
      "graft_token_count" -> Seq("text", "text, ' ', ' '"),
      "graft_shingles" -> Seq("text", "text, 2, 3")
    ).foreach { case (fn, argss) =>
      argss.foreach { args =>
        val msgs = messages(intercept[Exception](
          df.selectExpr(s"$fn($args) AS r")))
        assert(msgs.contains(s"$fn expects"), s"$fn($args): $msgs")
      }
    }
  }

  /** `graft_topk` over (score, id) rows with the given SQL arguments. */
  private def topk(args: String): Unit = {
    val s = spark; import s.implicits._
    graft.functions.TopKAgg.register(spark)
    Seq((1L, 0.5, 7L, 3, 0.5f)).toDF("g", "score", "id", "n", "fscore")
      .groupBy("g").agg(expr(s"graft_topk($args)")): Unit
  }

  private def rejectsTopK(args: String): Unit = {
    val e = intercept[org.apache.spark.sql.AnalysisException](topk(args))
    assert(e.getMessage.contains("graft_topk"), e.getMessage)
  }

  test("graft_topk rejects a non-DOUBLE score at analysis") {
    topk("score, id, 2") // the accepted shape
    rejectsTopK("fscore, id, 2")
  }

  test("graft_topk rejects a non-BIGINT id at analysis") {
    rejectsTopK("score, CAST(id AS INT), 2")
  }

  test("graft_topk rejects a non-literal or non-positive k at analysis") {
    rejectsTopK("score, id, n")
    rejectsTopK("score, id, 0")
    rejectsTopK("score, id, CAST(NULL AS INT)")
  }

  test("graft_antecedents matches the typed antecedents kernel " +
    "row-for-row") {
    val s = spark; import s.implicits._
    graft.functions.AntecedentsGenerator.register(spark)
    val zs = Seq(Seq("a", "b", "c"), Seq("x", "y"))
    val got = zs.map(Tuple1(_)).toDF("z")
      .selectExpr("graft_antecedents(z) AS (antecedent, consequent)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      .groupBy(identity(_)).view.mapValues(_.size).toMap
    val want = zs.flatMap(z => Apriori.antecedents(z))
      .groupBy(identity(_)).view.mapValues(_.size).toMap
    assert(got == want)
    assert(got.values.sum == (8 - 2) + (4 - 2)) // 2^n - 2 each
  }

  test("embedding near-dup runs graft_dot inside whole-stage codegen") {
    val df = Dedup.embeddingNearDup(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_dot"), p)
    // the scoring projection (containing graft_dot) sits in a codegen
    // stage, not an interpreted project
    val scoringLine = p.linesIterator.find(_.contains("graft_dot")).get
    assert(scoringLine.contains("*("), // WholeStageCodegen marker
      s"graft_dot not codegen'd:\n$p")
  }
}

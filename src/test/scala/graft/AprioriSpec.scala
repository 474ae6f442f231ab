package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftspec.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join,
  LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.operators.Apriori

/** G1/G3 generator semantics + Apriori pipeline invariants (SURVEY.md
  * §5.2/§5.3; reference semantics from apriori_final.java:70-110 with the
  * documented sorted-canonicalization deviation).
  */
class AprioriSpec extends SparkSpecBase {

  test("subsetKeys enumerates every sorted subset exactly once") {
    val got = Apriori.subsetKeys(Seq("a", "b", "c")).toList
    val want = List(
      ("a", 1), ("b", 1), ("c", 1),
      ("a b", 2), ("a c", 2), ("b c", 2),
      ("a b c", 3))
    assert(got.sorted == want.sorted)
    assert(got.size == got.distinct.size)
  }

  test("subsetKeys count is 2^k - 1 (and 2^k - k - 1 for size >= 2)") {
    for (k <- 1 to 12) {
      val items = (0 until k).map(i => f"i$i%02d")
      val all = Apriori.subsetKeys(items).toList
      assert(all.size == (1 << k) - 1, s"k=$k")
      assert(all.count(_._2 >= 2) == (1 << k) - k - 1, s"k=$k")
    }
  }

  test("antecedents emits every proper non-empty split, partitioning z") {
    val got = Apriori.antecedents(Seq("a", "b", "c")).toList
    val want = List(
      ("a", "b c"), ("b", "a c"), ("c", "a b"),
      ("a b", "c"), ("a c", "b"), ("b c", "a"))
    assert(got.sorted == want.sorted)
    // antecedent ∪ consequent = z for every rule
    got.foreach { case (a, c) =>
      assert((a.split(" ") ++ c.split(" ")).sorted.toSeq == Seq("a", "b", "c"))
    }
  }

  test("freqItems matches a brute-force recount of the basket join") {
    val got = Apriori.freqItems(spark, Sf)
      .collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("cnt")).toMap
    val brute = Apriori.transactions(spark, Sf)
      .collect()
      .flatMap(_.getSeq[String](1).distinct)
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      .filter(_._2 >= Apriori.Support)
    assert(got == brute)
  }

  test("raw candidate stream: support-gating it yields exactly freqItemsets") {
    // apriori_raw parity (CandidateGenReduce emits ungated counts; the
    // gate applies later): filtering the raw stream at Support must
    // reproduce the final variant's answer row-for-row
    val gated = Apriori.candidatesRaw(spark, Sf)
      .where(org.apache.spark.sql.functions.col("cnt") >= Apriori.Support)
      .collect().map(r => r.getAs[String]("itemset") -> r.getAs[Long]("cnt")).toMap
    val fin = Apriori.freqItemsets(spark, Sf)
      .collect().map(r => r.getAs[String]("itemset") -> r.getAs[Long]("cnt")).toMap
    assert(gated == fin)
    // and the raw stream is strictly larger (ungated candidates exist)
    assert(Apriori.candidatesRaw(spark, Sf).count() > fin.size)
  }

  test("text basket round-trip reproduces the parquet-path frequent items") {
    val viaText = Apriori.freqItemsText(spark, Sf)
      .collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("cnt")).toMap
    val viaParquet = Apriori.freqItems(spark, Sf)
      .collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("cnt")).toMap
    assert(viaText == viaParquet)
  }

  test("fixture baskets stay within MaxBasket (oracle parity guard)") {
    import org.apache.spark.sql.functions._
    val widest = Apriori.transactions(spark, Sf)
      .select(max(size(col("items")))).collect()(0).getInt(0)
    assert(widest <= Apriori.MaxBasket,
      s"basket width $widest exceeds MaxBasket=${Apriori.MaxBasket}: " +
        "Spark and the DuckDB oracle would silently diverge")
  }

  test("level-wise Apriori equals the per-basket enumeration exactly") {
    val perBasket = Apriori.freqItemsets(spark, Sf)
      .collect().map(r => r.getAs[String]("itemset") -> r.getAs[Long]("cnt")).toMap
    val levelwise = Apriori.freqItemsetsLevelwise(spark, Sf)
      .collect().map(r => r.getAs[String]("itemset") -> r.getAs[Long]("cnt")).toMap
    assert(levelwise == perBasket)
  }

  test("support monotonicity: every frequent k-itemset's items are frequent") {
    val freq1 = Apriori.freqItems(spark, Sf)
      .collect().map(_.getAs[String]("item")).toSet
    val sets = Apriori.freqItemsets(spark, Sf).collect()
    assert(sets.nonEmpty)
    sets.foreach { r =>
      r.getAs[String]("itemset").split(" ").foreach(i => assert(freq1.contains(i)))
    }
  }

  test("maximal itemsets: exactly the frequent sets with no frequent superset") {
    val freq = Apriori.freqAll(spark, Sf)
      .collect().map(r => r.getAs[String]("itemset").split(" ").toSet -> r.getAs[Long]("cnt"))
    val freqSets = freq.map(_._1).toSet
    val got = Apriori.maximalItemsets(spark, Sf)
      .collect().map(r => r.getAs[String]("itemset").split(" ").toSet -> r.getAs[Long]("cnt"))
      .toMap
    val want = freq.filter { case (s, _) =>
      !freqSets.exists(o => s != o && s.subsetOf(o))
    }.toMap
    assert(got == want)
    assert(got.nonEmpty && got.size < freq.length)
  }

  test("closed itemsets: no superset of equal support; maximal ⊆ closed") {
    val freq = Apriori.freqAll(spark, Sf)
      .collect().map(r => r.getAs[String]("itemset").split(" ").toSet -> r.getAs[Long]("cnt"))
    val got = Apriori.closedItemsets(spark, Sf)
      .collect().map(r => r.getAs[String]("itemset").split(" ").toSet -> r.getAs[Long]("cnt"))
      .toMap
    val want = freq.filter { case (s, c) =>
      !freq.exists { case (o, oc) => s != o && s.subsetOf(o) && oc == c }
    }.toMap
    assert(got == want)
    val maximal = Apriori.maximalItemsets(spark, Sf)
      .collect().map(_.getAs[String]("itemset").split(" ").toSet).toSet
    assert(maximal.subsetOf(got.keySet))
    // pin the fixture's behavior: at sf0.001 EVERY frequent set is
    // closed (compression only shows at sf0.01: 12741 of 12744)
    assert(got.size == freq.length)
  }

  test("level-wise driver budget: actives bounded by frequent items, " +
    "monotone shrinking") {
    // the one value each level returns to the driver is the active-item
    // set; its documented budget is |frequent 1-items| at every level,
    // shrinking with k (support monotonicity). Verify off the OUTPUT:
    // level-k actives = distinct items of frequent k-itemsets, the
    // exact set level k's job returns to prune level k+1
    val freqItems = Apriori.freqItems(spark, Sf).collect()
      .map(_.getAs[String]("item")).toSet
    val byLevel = Apriori.freqItemsetsLevelwise(spark, Sf).collect()
      .map(_.getAs[String]("itemset").split(" ").toSeq)
      .groupBy(_.length)
      .map { case (k, sets) => k -> sets.flatten.toSet }
    assert(byLevel.nonEmpty)
    byLevel.foreach { case (k, actives) =>
      assert(actives.subsetOf(freqItems),
        s"level-$k actives exceed the frequent vocabulary") }
    val ks = byLevel.keys.toSeq.sorted
    ks.sliding(2).foreach {
      case Seq(a, b) => assert(byLevel(b).subsetOf(byLevel(a)),
        s"level-$b actives not ⊆ level-$a actives")
      case _ => ()
    }
  }

  test("level-wise census: one job per level, one SQL execution") {
    // the `lw` build packs the baskets once and runs every level as one
    // RDD job that returns the next active set: levels 2 … max plus the
    // empty stop level, then the one SQL execution that cuts the union.
    // A warm call serves the cut and runs no job at all
    val sc = spark.sparkContext
    SessionCache.invalidate(spark, Sf)
    Apriori.freqItems(spark, Sf).count(): Unit // rebuild the baskets
    val queries = new AtomicInteger
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart =>
          queries.incrementAndGet(): Unit
        case _ => ()
      }
    }
    def census(call: => DataFrame): (DataFrame, Int, Int) = {
      jobs.set(0); queries.set(0)
      BusDrain(sc)
      sc.addSparkListener(listener)
      try {
        val out = call
        BusDrain(sc)
        (out, jobs.get, queries.get)
      } finally sc.removeSparkListener(listener)
    }
    val (cold, coldJobs, coldQueries) =
      census(Apriori.freqItemsetsLevelwise(spark, Sf))
    val (warm, warmJobs, _) =
      census(Apriori.freqItemsetsLevelwise(spark, Sf))
    val rows = cold.collect()
    val levels = rows
      .map(_.getAs[String]("itemset").split(" ").length).max
    assert(levels >= 2)
    assert(coldJobs <= levels + 1, s"$coldJobs jobs over $levels levels")
    assert(coldQueries <= 1, s"$coldQueries SQL executions")
    assert(warmJobs == 0, s"warm lw ran $warmJobs jobs")
    assert(warm.collect().toSet == rows.toSet)
  }

  test("cold build: one lineitem⋈part basket join serves both keyings") {
    // the sorted and the transaction-order entries share one basket
    // artifact: after the dir is invalidated, a cold freqItemsets
    // builds it and freqItemsetsTxOrder reads it, so exactly one SQL
    // execution joins lineitem to part. Census of every execution's
    // optimized plan: joins whose one side reads only lineitem and the
    // other only part
    def tables(p: LogicalPlan): Set[String] = p.collectLeaves().collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
    }.flatten.toSet
    SessionCache.invalidate(spark, Sf)
    val joins = sqlExecutions {
      Apriori.freqItemsets(spark, Sf).collect(): Unit
      Apriori.freqItemsetsTxOrder(spark, Sf).collect(): Unit
    }.map(_.optimizedPlan.collect {
      case j: Join if Set(tables(j.left), tables(j.right)) ==
          Set(Set("lineitem"), Set("part")) => j
    }.size).sum
    assert(joins == 1, s"$joins lineitem⋈part joins")
  }

  test("cold build: one graft_subsets enumeration serves the frequent " +
    "itemsets and the raw candidates") {
    // the `candidates` artifact counts every sorted subset once, ungated;
    // `supports` gates it and the raw stream filters it by k. After the
    // dir is invalidated, a cold freqItemsets followed by candidatesRaw
    // runs exactly one SQL execution whose optimized plan enumerates
    // `fitems` through graft_subsets
    SessionCache.invalidate(spark, Sf)
    val enumerations = sqlExecutions {
      Apriori.freqItemsets(spark, Sf).collect(): Unit
      Apriori.candidatesRaw(spark, Sf).collect(): Unit
    }.count(_.optimizedPlan.exists {
      case g: Generate => g.generator.prettyName == "graft_subsets" &&
        g.generator.references.exists(_.name == "fitems")
      case _ => false
    })
    assert(enumerations == 1,
      s"$enumerations graft_subsets enumerations of fitems")
  }

  test("txorder keying splits one item SET by basket order; sorted merges") {
    // apriori_final.java:82-94 semantics: keys are joined in transaction
    // order, so ["b","a"] and ["a","b"] baskets count under DIFFERENT
    // keys — the engine default (sorted canonical) merges them
    val s = spark; import s.implicits._
    val tx = (Seq.fill(5)(Seq("b", "a")) ++ Seq.fill(5)(Seq("a", "b")))
      .toDF("items")
    val ordered = Apriori.freqItemsetsTxOrderOf(tx, support = 5)
      .collect().map(r => r.getAs[String]("itemset") -> r.getAs[Long]("cnt")).toMap
    assert(ordered == Map("b a" -> 5L, "a b" -> 5L))
    val sorted = Apriori.freqItemsetsOf(tx, support = 5)
      .collect().map(r => r.getAs[String]("itemset") -> r.getAs[Long]("cnt")).toMap
    assert(sorted == Map("a b" -> 10L))
  }

  test("duplicate-bearing unsorted baskets: sorted prune dedups, " +
    "tx-order prune keeps positional duplicates") {
    // ["b","a","a"]: the sorted prune (array_intersect) drops the second
    // "a" before enumeration; the order-preserving prune (filter) keeps
    // it, so subsets are enumerated by POSITION — (0,1) and (0,2) both
    // key "b a", (1,2) keys "a a"
    val s = spark; import s.implicits._
    val tx = Seq.fill(5)(Seq("b", "a", "a")).toDF("items")
    val sorted = Apriori.freqItemsetsOf(tx, support = 5)
      .collect().map(r => r.getAs[String]("itemset") -> r.getAs[Long]("cnt")).toMap
    assert(sorted == Map("a b" -> 5L))
    val ordered = Apriori.freqItemsetsTxOrderOf(tx, support = 5)
      .collect().map(r => r.getAs[String]("itemset") -> r.getAs[Long]("cnt")).toMap
    assert(ordered == Map("b a" -> 10L, "a a" -> 5L, "b a a" -> 5L))
  }

  test("transactionsOrdered: first-appearance order, ties lexical") {
    // the fixture's ordered-basket derivation must agree with a
    // brute-force recomputation from the raw tables
    val li = graft.Tables(spark, Sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val brand = graft.Tables(spark, Sf, "part")
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = li.groupBy(_._1).map { case (ok, rows) =>
      // toSeq BEFORE the pair map: mapping the Map directly would key
      // by min-linenumber and silently drop ties (the fixture has them)
      ok -> rows.groupBy(r => brand(r._3)).toSeq
        .map { case (b, rs) => (rs.map(_._2).min, b) }
        .sorted.map(_._2)
    }
    val got = Apriori.transactionsOrdered(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (ok, items) =>
      assert(got(ok) == items, s"order $ok") }
    // and at least one fixture basket is NOT in sorted order — the
    // variant must exercise genuinely order-sensitive keys
    assert(got.values.exists(is => is != is.sorted))
  }

  test("sequential pairs: order matters, same-day is not a sequence") {
    val s2 = spark; import s2.implicits._
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // customers 1..45 buy part 10 on Jan 1 then part 20 on Feb 1;
    // customer 99 buys both on the SAME day (no sequence); part 30
    // is infrequent (one buyer) and must be pruned as a 1-sequence
    val orders = ((1 to 45).flatMap(c => Seq(
        (c * 10L + 1, c.toLong, d("2024-01-01")),
        (c * 10L + 2, c.toLong, d("2024-02-01")))) ++
      Seq((991L, 99L, d("2024-03-01"))))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val li = ((1 to 45).flatMap(c => Seq(
        (c * 10L + 1, 10L), (c * 10L + 2, 20L))) ++
      Seq((991L, 10L), (991L, 20L), (991L, 30L)))
      .toDF("l_orderkey", "l_partkey")
    val got = graft.operators.Apriori.seqPairsOf(orders, li).collect()
      .map(r => (r.getAs[Long]("p_first"), r.getAs[Long]("p_then"), r.getAs[Long]("support"))).toSeq
    // 10-then-20 for the 45 sequenced customers; never 20-then-10;
    // customer 99's same-day pair contributes nothing; 30 pruned
    assert(got == Seq((10L, 20L, 45L)), got.toString)
  }
}

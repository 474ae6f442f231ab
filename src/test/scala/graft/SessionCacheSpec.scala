package graft

/** Semantics of the shared session-cache helper (the single spelling
  * behind every operator serving index): build-once reuse per
  * (session, dir, sub-key), lost-value release, and the ONE dir-scoped
  * [[SessionCache.invalidate]] — another dir's or another session's
  * entries survive it, a null dir / null session is a wildcard, and
  * release runs exactly once per dropped entry. The dead-session sweep
  * branch is exercised structurally (a stopped session cannot be
  * created next to the shared spec context in one JVM): every access
  * path calls sweep(), so the live-session assertions here run through
  * it. Dirs are spec-private names, so the registry-wide invalidate
  * calls never touch the operator caches' fixture entries.
  */
class SessionCacheSpec extends SparkSpecBase {

  private val DirA = "/spec/session-cache/a"
  private val DirB = "/spec/session-cache/b"

  test("builds once per key, releases the loser, invalidates by key") {
    var builds = 0
    var released = List.empty[String]
    val c = new SessionCache[String](v => released ::= v)
    def get(dir: String, sub: Any = ()): String =
      c.getOrBuild(spark, dir, sub) { builds += 1; s"v-$dir-$sub-$builds" }
    val a = get(DirA)
    assert(get(DirA) == a && builds == 1)
    val a2 = get(DirA, "kind")
    assert(a2 != a && builds == 2, "a sub-key is its own entry")
    val b = get(DirB)
    assert(builds == 3 && c.size == 3)
    // dir-scoped invalidation releases exactly the dir's values
    SessionCache.invalidate(spark, DirA)
    assert(released.toSet == Set(a, a2))
    assert(c.size == 1)
    assert(get(DirA) != a && builds == 4) // rebuilt after the drop
    assert(get(DirB) == b)
    SessionCache.invalidate(spark, DirA)
    SessionCache.invalidate(spark, DirB)
    assert(c.size == 0 && released.size == 4)
  }

  test("a lost build race releases exactly the loser, winner serves both") {
    // the documented get+putIfAbsent contract under REAL concurrency:
    // both threads are held at a barrier until both have passed the
    // get-miss, so both build deterministically; exactly one value
    // wins the putIfAbsent, the other is released, and both callers
    // observe the SAME winning value
    val entered = new java.util.concurrent.CyclicBarrier(2)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val released =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val c = new SessionCache[String](v => { released.add(v): Unit })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = c.getOrBuild(spark, DirA, "race") {
            entered.await(10, java.util.concurrent.TimeUnit.SECONDS)
            s"v-${builds.incrementAndGet()}-${Thread.currentThread().getId}"
          }
        }))
      val got = fs.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get() == 2, "the barrier should force both builds")
      assert(got(0) == got(1), "racers observed different cached values")
      assert(c.size == 1)
      assert(released.size() == 1 && !released.contains(got(0)),
        s"released=$released winner=${got(0)}")
    } finally {
      pool.shutdownNow()
      SessionCache.invalidate(spark, DirA)
    }
  }

  test("a foreign session's entries survive another session's invalidate") {
    // newSession shares the context but is a distinct key dimension —
    // the boundary call is per-session
    val other = spark.newSession()
    val c = new SessionCache[Int](_ => ())
    c.getOrBuild(spark, DirA)(1)
    c.getOrBuild(other, DirA)(2)
    assert(c.size == 2)
    SessionCache.invalidate(other, DirA)
    assert(c.size == 1)
    assert(c.getOrBuild(spark, DirA)(99) == 1, "wrong entry dropped")
    SessionCache.invalidate(spark, DirA)
  }

  test("another dir's entries survive an invalidate, in every cache") {
    val c1 = new SessionCache[Int](_ => ())
    val c2 = new SessionCache[String](_ => ())
    c1.getOrBuild(spark, DirA)(1)
    c1.getOrBuild(spark, DirB)(2)
    c2.getOrBuild(spark, DirA, "x")("a")
    c2.getOrBuild(spark, DirB, "x")("b")
    SessionCache.invalidate(spark, DirA)
    assert(c1.size == 1 && c2.size == 1)
    assert(c1.getOrBuild(spark, DirB)(99) == 2 &&
      c2.getOrBuild(spark, DirB, "x")("?") == "b", "wrong dir dropped")
    SessionCache.invalidate(spark, DirB)
    assert(c1.size == 0 && c2.size == 0)
  }

  test("a null dir or a null session is a wildcard") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val c = new SessionCache[Int](_ => ())
    for (s <- Seq(s1, s2); d <- Seq(DirA, DirB)) c.getOrBuild(s, d)(0)
    assert(c.size == 4)
    // null dir: every dir of ONE session
    SessionCache.invalidate(s1)
    assert(c.size == 2)
    assert(c.getOrBuild(s2, DirA)(1) == 0 && c.getOrBuild(s2, DirB)(1) == 0)
    c.getOrBuild(s1, DirB)(0)
    // null session: ONE dir of every session
    SessionCache.invalidate(null, DirA)
    assert(c.size == 2)
    assert(c.getOrBuild(s1, DirB)(1) == 0 && c.getOrBuild(s2, DirB)(1) == 0)
    SessionCache.invalidate(s1)
    SessionCache.invalidate(s2)
    assert(c.size == 0)
  }

  test("release runs exactly once per dropped entry under concurrent " +
    "invalidates") {
    val released = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicInteger]()
    val c = new SessionCache[String](v => {
      released.computeIfAbsent(v,
        _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
      ()
    })
    val n = 200
    (0 until n).foreach(i => c.getOrBuild(spark, DirA, i)(s"v$i"))
    c.getOrBuild(spark, DirB)("keep")
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          start.await(); SessionCache.invalidate(spark, DirA)
        }
      }))
      start.countDown()
      fs.foreach(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(released.size == n, s"released ${released.size} of $n")
    assert(released.values().stream().allMatch(_.get == 1),
      "an entry was released more than once")
    assert(c.size == 1 && c.getOrBuild(spark, DirB)("?") == "keep")
    SessionCache.invalidate(spark, DirB)
  }

  test("a parquet rewrite under a cached dir serves the new table after " +
    "the one invalidate") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Apriori, Graph}
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft-rewrite").toFile
    try {
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(Sf), tmp)
      val dir = tmp.getPath
      // warm the relation, edge, basket and supports caches of the copy
      val edges0 = rows(Graph.edges(spark, dir))
      val items0 = rows(Apriori.freqItemsets(spark, dir))
      // rewrite lineitem under the cached dir with a filtered subset
      spark.read.parquet(s"$Sf/lineitem.parquet")
        .where(col("l_orderkey") % 3 =!= 0)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      SessionCache.invalidate(spark, dir)
      // the `…Of` forms over the new table, read by a session that
      // never cached anything under the copy
      val fresh = spark.newSession()
      val wantEdges = rows(Graph.edgesOf(
        fresh.read.parquet(s"$dir/lineitem.parquet")))
      val wantItems = rows(Apriori.freqItemsetsOf(
        Apriori.transactions(fresh, dir)))
      assert(wantEdges != edges0 && wantItems != items0,
        "the filtered rewrite should change both answers")
      assert(rows(Graph.edges(spark, dir)) == wantEdges)
      assert(rows(Apriori.freqItemsets(spark, dir)) == wantItems)
    } finally {
      SessionCache.invalidate(null, tmp.getPath)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
  }
}

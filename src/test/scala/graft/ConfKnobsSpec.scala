package graft

import graft.operators.{Curation, Similarity, TextOps}

/** The fixture-scaled constants are session-conf knobs ([[Conf]]): each
  * test here sets a NON-default value, proves the entry honors it with
  * a brute-force expectation, and unsets the key (shared session — a
  * leaked knob would silently move other suites off their oracles).
  */
class ConfKnobsSpec extends SparkSpecBase {

  private def withConf[T](key: String, value: String)(body: => T): T =
    try { spark.conf.set(key, value); body }
    finally spark.conf.unset(key)

  test("coverage sizes knob: custom size list, coverage vs brute force") {
    withConf(TextOps.CoverageVocabSizesConf, "2, 31") {
      val rows = TextOps.vocabCoverage(spark, Sf).collect()
        .map(r => r.getAs[Long]("vocab_size") -> (r.getAs[Long]("n_covered"), r.getAs[Double]("coverage"))).toMap
      assert(rows.keySet == Set(2L, 31L))
      // brute force off the same fixture: sum of the top-V counts
      val wc = TextOps.wordCount(spark, Sf).collect()
        .map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt"))
      val byRank = wc.sortBy { case (w, c) => (-c, w) }.map(_._2)
      val tot = byRank.sum.toDouble
      Seq(2, 31).foreach { v =>
        val want = byRank.take(v).sum
        assert(rows(v.toLong) == ((want, want / tot)), s"V=$v")
      }
      // the fixture vocabulary is 31 types — full coverage at V=31
      assert(rows(31L)._2 == 1.0)
    }
  }

  test("coverage select knobs: K=3 picks exactly 3, small universe") {
    withConf(Curation.CovSelectKConf, "3") {
      withConf(Curation.CovUniverseConf, "64") {
        val rows = Curation.coverageSelect(spark, Sf).collect()
        assert(rows.length <= 3)
        assert(rows.map(_.getAs[Long]("step")).toSeq ==
          (1L to rows.length.toLong).toSeq)
        // covered never exceeds the shrunken universe
        assert(rows.forall(_.getAs[Long]("covered") <= 64L))
      }
    }
  }

  test("mrl budgets knob: custom widths, full width still identity") {
    withConf(Similarity.MrlBudgetsConf, "4, 64") {
      val rows = Similarity.matryoshka(spark, Sf).collect()
        .map(r => r.getAs[Long]("dims") -> r.getAs[Double]("recall")).toMap
      assert(rows.keySet == Set(4L, 64L))
      assert(rows(64L) == 1.0)
      assert(rows(4L) <= rows(64L))
    }
  }

  test("encode vocab knob: V=4 leaves only 4 distinct non-OOV ids") {
    withConf(TextOps.EncodeVocabConf, "4") {
      val ids = TextOps.queries("llm_encode")(spark, Sf).collect()
        .flatMap(_.getString(3).split(",")).filter(_.nonEmpty)
        .map(_.toLong).toSet
      assert(ids == Set(TextOps.OovId, 0L, 1L, 2L, 3L),
        s"got id set $ids")
    }
  }

  test("sim numQueries knob: exactly 3 query groups, ranks intact") {
    withConf(Similarity.NumQueriesConf, "3") {
      val rows = Similarity.queries("llm_sim_topk")(spark, Sf).collect()
      val byQ = rows.groupBy(_.getLong(0))
      assert(byQ.keySet == Set(0L, 1L, 2L))
      byQ.values.foreach { g =>
        assert(g.map(_.getInt(3).toLong).sorted.toSeq ==
          (1L to Similarity.TopK).toSeq)
      }
    }
  }

  test("sim numCentroids knob: IVF trains a 4-list quantizer and still " +
    "returns every query") {
    withConf(Similarity.NumCentroidsConf, "4") {
      val cents = Similarity.kmeansCentroids(
        Tables(spark, Sf, "embeddings").select(
          org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")
            .cast("array<double>").as("e")),
        iters = 1, k = 4)
      assert(cents.length == 4)
      val got = Similarity.queries("llm_sim_ivf_topk")(spark, Sf)
      assert(got.select("query_id").distinct().count() ==
        Similarity.NumQueries)
    }
  }

  test("graft.materialize=reliable: dedup + graph entries hash-identical " +
    "to the local default") {
    // the 100 TB deployment story is a CONF FLIP: a session with
    // graft.materialize=reliable builds every session-cached artifact
    // (dedup band index, graph edges/kernel, converged ranks) as a
    // reliable checkpoint instead of a localCheckpoint, with identical
    // values. A fresh newSession isolates the flipped caches (the
    // SessionCache key dimension), and the reliable files are released
    // by the ordinary SessionCache.invalidate.
    withCheckpointDir { ckDir =>
      val rel = spark.newSession()
      rel.conf.set("graft.materialize", "reliable")
      assert(Materialize.session(rel) eq Materialize.Reliable)
      try {
        def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.collect().map(_.toString).sorted.toSeq
        Seq("llm_dedup_minhash", "graph_pagerank").foreach { name =>
          val base = rows(SparkEntry.queries(name)(spark, Sf))
          val flip = rows(SparkEntry.queries(name)(rel, Sf))
          assert(flip == base, s"$name diverged under reliable")
        }
        // the flip really checkpointed: rdd-* dirs exist under ckDir
        assert(rddDirs(ckDir).nonEmpty,
          "reliable session produced no reliable checkpoints")
      } finally {
        // drop EVERY cache the two entries populated for the flipped
        // session before their checkpoint files are deleted — a
        // retained entry over a deleted reliable checkpoint fails its
        // next read
        SessionCache.invalidate(rel)
      }
    }
  }

  test("graft.materialize=disk fails in Materialize.session naming " +
    "local|reliable") {
    // both accepted values materialize eagerly and truncate lineage;
    // the builders and iterative loops rely on that, so any other
    // value fails at the first build instead of running a lazy cut
    val dsk = spark.newSession()
    dsk.conf.set("graft.materialize", "disk")
    val e = intercept[IllegalArgumentException](Materialize.session(dsk))
    assert(e.getMessage.contains("local|reliable"), e.getMessage)
  }

  test("mid-session conf flip + SessionCache.invalidate rebuilds under " +
    "the new strategy") {
    // the documented graft.materialize caveat: the conf is read at
    // BUILD time, so flipping it mid-session serves artifacts built
    // under the old strategy — SessionCache.invalidate(spark) is the
    // one-call remedy. Proof: build under local on a fresh session,
    // flip to reliable, invalidate, rebuild → the SAME session now
    // produces reliable checkpoint files, values unchanged.
    withCheckpointDir { ckDir =>
      val sess = spark.newSession() // isolate the flipped caches
      try {
        def rows() = SparkEntry.queries("llm_dedup_minhash")(sess, Sf)
          .collect().map(_.toString).sorted.toSeq
        val base = rows() // builds the band index under local (default)
        assert(rddDirs(ckDir).isEmpty,
          "local build must not write checkpoints")
        sess.conf.set("graft.materialize", "reliable")
        // flip WITHOUT invalidation serves the old-strategy artifact
        // (documented); the remedy is one call:
        SessionCache.invalidate(sess)
        val flipped = rows()
        assert(flipped == base, "values must not move under the flip")
        assert(rddDirs(ckDir).nonEmpty,
          "post-invalidate rebuild did not checkpoint reliably")
      } finally {
        sess.conf.unset("graft.materialize")
        SessionCache.invalidate(sess)
      }
    }
  }

  test("graft.streaming.stateStore=rocksdb: stateful streaming entries " +
    "hash-identical under the flipped provider") {
    // the streaming mirror of the graft.materialize story: at 100 TB/day
    // the in-memory HDFSBacked state store is the first thing that
    // falls over, and the fix must be a conf flip, not a code edit.
    // Runs the two state-heaviest entries (flatMapGroupsWithState
    // sessionizer; dropDuplicatesWithinWatermark ingestion dedup)
    // under both providers and compares emitted rows. A provider that
    // failed to instantiate would fail the query at start.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    val HourNs = 3600L * 1000 * 1000 * 1000
    val MinNs = 60L * 1000 * 1000 * 1000
    def ev(id: Long, tsNs: Long, user: Long = 1L): Ev =
      Ev(id, tsNs, user, "click", 1.0)
    def run(sess: org.apache.spark.sql.SparkSession, tag: String)
        : (Set[String], Set[String]) = {
      Streams.configureStateStore(sess)
      val s = sess; import s.implicits._
      implicit val ctx = sess.sqlContext
      val memS = MemoryStream[Ev]
      val qS = Streams.sessionizeStateful(memS.toDF())
        .writeStream.format("memory").queryName(s"ss_sessions_$tag")
        .outputMode("append").start()
      val memD = MemoryStream[Ev]
      val qD = Streams.dedupWithinWatermark(memD.toDF(), "2 hours")
        .writeStream.format("memory").queryName(s"ss_dedup_$tag")
        .outputMode("append").start()
      try {
        val B = HourNs
        memS.addData(
          ev(1, B), ev(2, B + 10 * MinNs), ev(3, B + 20 * MinNs),
          ev(4, B + 2 * HourNs), ev(5, B + 5 * MinNs, user = 2))
        qS.processAllAvailable()
        memS.addData(ev(9, 20 * HourNs, user = 3)) // timeouts fire
        qS.processAllAvailable()
        memS.addData(ev(10, 30 * HourNs, user = 3))
        qS.processAllAvailable()
        memD.addData(ev(20, 1 * HourNs), ev(20, 1 * HourNs),
          ev(21, 2 * HourNs))
        qD.processAllAvailable()
        memD.addData(ev(20, 1 * HourNs), ev(22, 6 * HourNs))
        qD.processAllAvailable()
        // there really was keyed state under the selected provider —
        // over the run's whole progress history (the lastProgress
        // null-tolerant form passed vacuously when no event had been
        // captured yet)
        assert(qS.recentProgress.exists(_.stateOperators.nonEmpty),
          "no stateful operator reported progress under the provider")
        (sess.table(s"ss_sessions_$tag").collect()
          .map(_.toString).toSet,
          sess.table(s"ss_dedup_$tag").collect()
            .map(r => r.getAs[Long]("event_id").toString).toSet)
      } finally { qS.stop(); qD.stop() }
    }
    val hdfsSess = spark.newSession() // default provider
    assert(Streams.configureStateStore(hdfsSess).contains("HDFSBacked"))
    val rocksSess = spark.newSession()
    rocksSess.conf.set("graft.streaming.stateStore", "rocksdb")
    assert(Streams.configureStateStore(rocksSess).contains("RocksDB"))
    val (sessionsH, dedupH) = run(hdfsSess, "hdfs")
    val (sessionsR, dedupR) = run(rocksSess, "rocksdb")
    assert(sessionsH.nonEmpty && dedupH.nonEmpty)
    assert(sessionsR == sessionsH,
      "sessionizer diverged under the RocksDB state store")
    assert(dedupR == dedupH,
      "watermark dedup diverged under the RocksDB state store")
    intercept[IllegalArgumentException] {
      val bad = spark.newSession()
      bad.conf.set("graft.streaming.stateStore", "hbase")
      Streams.configureStateStore(bad)
    }
  }

  test("state-store seam is DEFAULT-ON: the public start paths honor " +
    "graft.streaming.stateStore with no explicit configure call") {
    // r14 shipped the seam opt-in — nothing in src/main called it, so a
    // deployment forgetting the invocation silently ran the in-memory
    // HDFSBacked provider, exactly the 100 TB failure the conf exists
    // to prevent. Both public paths must resolve it themselves.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
    // write-side: startQuery resolves the conf before .start()
    val sess = spark.newSession()
    sess.conf.set("graft.streaming.stateStore", "rocksdb")
    val s = sess; import s.implicits._
    implicit val ctx = sess.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.startQuery(Streams.sessionizeStateful(mem.toDF()))(
      _.format("memory").queryName("ss_defaulton")
        .outputMode("append"))
    try {
      val HourNs = 3600L * 1000 * 1000 * 1000
      mem.addData(Ev(1, HourNs, 1L, "click", 1.0),
        Ev(2, 20 * HourNs, 3L, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(3, 30 * HourNs, 3L, "click", 1.0))
      q.processAllAvailable()
      assert(sess.conf.get(ProviderKey).contains("RocksDB"),
        "startQuery did not resolve the state-store conf")
      assert(sess.table("ss_defaulton").collect().nonEmpty)
      // the RUNNING query really keyed state under a provider —
      // recentProgress over the whole run, not the lastProgress
      // null-tolerant form (which passes vacuously when no progress
      // event has been captured yet)
      assert(q.recentProgress.exists(_.stateOperators.nonEmpty),
        "no stateful operator reported progress under the provider")
    } finally q.stop()
    // read-side: building the unbounded source resolves it too, so a
    // hand-rolled writeStream…start() after rateEvents is covered
    val sess2 = spark.newSession()
    sess2.conf.set("graft.streaming.stateStore", "rocksdb")
    Streams.rateEvents(sess2, 4): Unit
    assert(sess2.conf.get(ProviderKey).contains("RocksDB"),
      "rateEvents did not resolve the state-store conf at source build")
  }

  test("state-store seam respects a NATIVELY configured provider when " +
    "graft.streaming.stateStore is unset (r16 advice fix)") {
    // the default-on seam runs on every public start path; before r16
    // it overwrote spark.sql.streaming.stateStore.providerClass with
    // the graft-conf-derived default unconditionally — a deployment
    // that selected rocksdb (or a custom provider) through Spark's
    // native conf ALONE got silently reset to the in-memory provider
    // on every query start, the exact failure the seam exists to stop
    import graft.streaming.Streams
    val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
    val Rocks = "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider"
    val sess = spark.newSession()
    sess.conf.set(ProviderKey, Rocks) // native conf only, no graft conf
    assert(Streams.configureStateStore(sess) == Rocks,
      "seam must report the respected native provider")
    assert(sess.conf.get(ProviderKey) == Rocks,
      "default-on start path reset a natively configured provider")
    // an EXPLICIT graft conf still wins over the native value (the
    // graft conf is the documented override knob)
    sess.conf.set("graft.streaming.stateStore", "hdfs")
    assert(Streams.configureStateStore(sess).contains("HDFSBacked"))
    assert(sess.conf.get(ProviderKey).contains("HDFSBacked"))
  }

  test("shuffle rank-buckets knob: ranks identical at any bucketing") {
    val base = Curation.queries("llm_shuffle_assign")(spark, Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    withConf(Curation.RankBucketsConf, "7") {
      val got = Curation.queries("llm_shuffle_assign")(spark, Sf)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got == base,
        "bucketing is an execution detail — ranks must not move")
    }
  }
}

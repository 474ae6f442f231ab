package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Graph-family invariants the DuckDB oracle cannot see in isolation:
  * hand-checked counts on a tiny known graph, the orientation-free
  * triangle count, PageRank's conserved/integer rank mass, and the
  * basket-local (no self-join) edge-derivation plan.
  */
class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  /** lineitem-shaped rows for two baskets: order 1 = {1,2,3} (with a
    * duplicated part line), order 2 = {3,4}. Expected canonical edges:
    * (1,2) (1,3) (2,3) w=1 each, (3,4) w=1; one triangle {1,2,3}.
    */
  private def tinyLineitem = tinyLineitemIn(spark)

  private def tinyLineitemIn(s: org.apache.spark.sql.SparkSession) =
    s.createDataFrame(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 3L), (2L, 3L), (2L, 4L)))
      .toDF("l_orderkey", "l_partkey")

  test("edges: basket-local pairs, duplicate part lines collapse") {
    val ed = Graph.edgesOf(tinyLineitem)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(ed == Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (3L, 4L, 1L)))
  }

  test("triangles: hand-checked census on the tiny graph") {
    val r = Graph.trianglesOf(Graph.edgesOf(tinyLineitem)).head()
    assert(r.getLong(0) == 4, "n_nodes")
    assert(r.getLong(1) == 4, "n_edges")
    // degrees 2,2,3,1 -> wedges 1+1+3+0 = 5
    assert(r.getLong(2) == 5, "n_wedges")
    assert(r.getLong(3) == 1, "n_triangles")
    assert(r.getDouble(4) == 3.0 / 5.0, "clustering")
  }

  test("triangle count matches the naive id-ordered 3-way join") {
    val ed = Graph.edges(spark, Sf).select("a", "b").localCheckpoint()
    val naive = ed.as("e1")
      .join(ed.as("e2"), col("e2.a") === col("e1.b"))
      .join(ed.as("e3"), col("e3.a") === col("e1.a")
        && col("e3.b") === col("e2.b"))
      .count()
    val census = Graph.trianglesOf(ed).head()
    assert(census.getLong(3) == naive,
      s"oriented=${census.getLong(3)} naive=$naive")
    Materialize.release(ed)
  }

  test("pagerank: regular graphs stay uniform at full rank mass") {
    // 4-cycle: every node degree 2 — ranks are the fixed point PrScale
    // at every iteration, so the integer loop must return exactly it
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
      .toDF("a", "b").withColumn("w", lit(1L))
    val ranks = Graph.pagerankOf(cyc).collect()
    assert(ranks.length == 4)
    ranks.foreach(r => assert(r.getLong(1) == Graph.PrScale, s"$r"))
  }

  test("pagerank: star center outranks leaves, mass nearly conserved") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("a", "b").withColumn("w", lit(1L))
    val ranks = Graph.pagerankOf(star).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    assert(ranks(1L) > ranks(2L), s"center should lead: $ranks")
    assert(ranks(2L) == ranks(5L), "leaves tie by symmetry")
    // integer DIV only ever rounds down: total mass <= n * scale,
    // and within n rounding losses of it
    val total = ranks.values.sum
    assert(total <= 5L * Graph.PrScale)
    assert(total >= 5L * Graph.PrScale - 5L * Graph.PrIters * 100L)
  }

  test("fixture entries: histogram covers every node, top-k is dense") {
    val ed = Graph.edges(spark, Sf).localCheckpoint()
    val nNodes = Graph.trianglesOf(ed).head().getLong(0)
    val histTotal = Graph.degreesOf(ed)
      .agg(sum("n_nodes")).head().getLong(0)
    assert(histTotal == nNodes, s"hist=$histTotal nodes=$nNodes")
    val top = Graph.pagerank(spark, Sf).collect()
    assert(top.length == math.min(Graph.PrTopK, nNodes).toInt)
    assert(top.map(_.getAs[Long]("rk")).sorted.toSeq ==
      (1L to top.length.toLong).toSeq, "rk is 1..k dense")
    Materialize.release(ed)
  }

  test("random graphs: census matches Scala brute force, rank mass bounded") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 4) {
      val n = 8 + rnd.nextInt(8)
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b").withColumn("w", lit(1L))
        val r = Graph.trianglesOf(df).head()
        val es = edges.toSet
        def has(x: Long, y: Long) =
          es.contains((math.min(x, y), math.max(x, y)))
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val triBrute = (for {
          i <- nodes; j <- nodes if i < j && has(i, j)
          k <- nodes if j < k && has(j, k) && has(i, k)
        } yield 1).size
        assert(r.getAs[Long]("n_triangles") == triBrute, s"n=$n edges=$edges")
        val wedges = edges.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).values.map(g => g.size.toLong * (g.size - 1) / 2)
          .sum
        assert(r.getAs[Long]("n_wedges") == wedges, s"wedges n=$n")
        // integer PageRank only ever rounds down: total mass is at most
        // n*scale and within the (tiny) cumulative DIV losses of it
        val ranks = Graph.pagerankOf(df).collect().map(_.getAs[Long]("pr"))
        assert(ranks.length == math.min(nodes.size, Graph.PrTopK))
        if (nodes.size <= Graph.PrTopK) {
          val total = ranks.sum
          assert(total <= nodes.size.toLong * Graph.PrScale)
          assert(total > nodes.size.toLong * Graph.PrScale - 1000000L,
            s"mass leak: $total vs ${nodes.size.toLong * Graph.PrScale}")
        }
      }
    }
  }

  test("kcore: peel trace matches the in-memory simulation") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 10 + rnd.nextInt(10)
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        // w = StrongW so every edge survives the strong filter
        val df = edges.toDF("a", "b").withColumn("w", lit(Graph.StrongW))
        var cur = edges.toSet
        val expect = (1 to Graph.KcIters).map { i =>
          val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
            .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
          val keep = deg.filter(_._2 >= Graph.KcoreK).keySet
          cur = cur.filter(e => keep(e._1) && keep(e._2))
          val nodes = cur.flatMap(e => Seq(e._1, e._2)).size
          (i.toLong, nodes.toLong, cur.size.toLong)
        }
        val got = Graph.kcoreOf(df).collect()
          .map(r => (r.getAs[Long]("iter"), r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges")))
          .sortBy(_._1).toSeq
        assert(got == expect, s"edges=$edges")
        // the trace never grows
        assert(got.sliding(2).forall {
          case Seq((_, n1, e1), (_, n2, e2)) => n2 <= n1 && e2 <= e1
          case _ => true
        })
      }
    }
  }

  test("label prop: communities match the synchronous mode replay") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val n = 10 + rnd.nextInt(10)
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b").withColumn("w", lit(Graph.StrongW))
        val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        var lbl = nbrs.keys.map(k => k -> k).toMap
        for (_ <- 1 to Graph.LpIters)
          lbl = nbrs.map { case (v, ns) =>
            v -> ns.map(lbl).groupBy(identity).toSeq
              .map { case (l, g) => (-g.size, l) }.min._2
          }
        val expect = lbl.values.groupBy(identity)
          .map { case (l, g) => l -> g.size.toLong }.toSeq
          .sortBy { case (l, s) => (-s, l) }
          .take(Graph.LpTopK).zipWithIndex
          .map { case ((l, s), i) => (l, s, (i + 1).toLong) }
        val got = Graph.labelPropOf(df).collect()
          .map(r => (r.getAs[Long]("label"), r.getAs[Long]("size"), r.getAs[Long]("rk")))
          .sortBy(_._3).toSeq
        assert(got == expect, s"edges=$edges")
      }
    }
  }

  test("distances: BFS level census matches the in-memory replay") {
    val rnd = new scala.util.Random(23)
    for (_ <- 1 to 3) {
      val n = 10 + rnd.nextInt(10)
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.2
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b").withColumn("w", lit(Graph.StrongW))
        val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        val src = nbrs.toSeq
          .map { case (v, ns) => (-ns.size.toLong, v) }.min._2
        var dist = Map(src -> 0L)
        for (i <- 1 to Graph.BfsIters) {
          val frontier = dist.filter(_._2 == i - 1).keySet
          val fresh = frontier.flatMap(nbrs) -- dist.keySet
          dist = dist ++ fresh.map(_ -> i.toLong)
        }
        val expect = dist.values.groupBy(identity)
          .map { case (d, g) => (d, g.size.toLong) }.toSet
        val got = Graph.distancesOf(df).collect()
          .map(r => (r.getAs[Long]("dist"), r.getAs[Long]("n_nodes"))).toSet
        assert(got == expect, s"edges=$edges src=$src")
      }
    }
  }

  test("rich club: brute-force threshold replay; star has no club") {
    val rnd = new scala.util.Random(61)
    for (_ <- 1 to 3) {
      val n = 10 + rnd.nextInt(10)
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b").withColumn("w", lit(Graph.StrongW))
        val deg = edges.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (v, g) => v -> g.size.toLong }
        val expect = deg.values.toSeq.distinct.flatMap { k =>
          val rich = deg.filter(_._2 > k).keySet
          val e = edges.count(p => rich(p._1) && rich(p._2)).toLong
          if (rich.size >= 2)
            Some((k, rich.size.toLong, e,
              (2 * e).toDouble / (rich.size.toLong
                * (rich.size - 1)).toDouble))
          else None
        }.toSet
        val got = Graph.richClubOf(df).collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_rich"), r.getAs[Long]("e_rich"),
            r.getAs[Double]("phi"))).toSet
        assert(got == expect, s"edges=$edges")
      }
    }
    // star: past k=1 only the hub qualifies — no club of ≥ 2 anywhere
    val star = (2 to 9).map(l => (1L, l.toLong))
    assert(Graph.richClubOf(star.toDF("a", "b")
      .withColumn("w", lit(Graph.StrongW))).count() == 0L)
    // two joined triangles: the bridge endpoints (degree 3) form a
    // perfectly-wired 2-club above threshold k=2 — and thresholds are
    // exactly the OBSERVED degree values ({2, 3}; k=3 leaves < 2
    // nodes and is filtered), so one row ships
    val tw = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val rc = Graph.richClubOf(tw.toDF("a", "b")
      .withColumn("w", lit(Graph.StrongW))).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[Long]("n_rich"), r.getAs[Long]("e_rich"),
        r.getAs[Double]("phi")))).toMap
    assert(rc == Map(2L -> ((2L, 1L, 1.0))))
  }

  test("modularity: replay on random graphs; disjoint triangles hit 1/2") {
    def replay(edges: Seq[(Long, Long)])
        : (Long, Long, BigInt, BigInt) = {
      val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var lbl = nbrs.keys.map(k => k -> k).toMap
      for (_ <- 1 to Graph.LpIters)
        lbl = nbrs.map { case (v, ns) =>
          v -> ns.map(lbl).groupBy(identity).toSeq
            .map { case (l, g) => (-g.size, l) }.min._2
        }
      val m = BigInt(edges.size)
      val ec = BigInt(edges.count { case (a, b) => lbl(a) == lbl(b) })
      // .keys.toSeq before mapping: a Set.map would collapse equal
      // degrees and silently undercount the community degree mass
      val dsum = lbl.groupBy(_._2).view.mapValues(g =>
        BigInt(g.keys.toSeq.map(nbrs(_).size).sum)).toMap
      val qn = 4 * m * ec - dsum.values.map(d => d * d).sum
      (lbl.values.toSet.size.toLong, m.toLong, qn, 4 * m * m)
    }
    val rnd = new scala.util.Random(53)
    for (_ <- 1 to 3) {
      val n = 10 + rnd.nextInt(10)
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b").withColumn("w", lit(Graph.StrongW))
        val (nc, m, qn, qd) = replay(edges)
        val r = Graph.modularityOf(df).head()
        assert((r.getAs[Long]("n_communities"), r.getAs[Long]("m"), r.getAs[Long]("q_num"), r.getAs[Long]("q_den"))
          == ((nc, m, qn.toLong, qd.toLong)), s"edges=$edges")
        assert(r.getAs[Double]("q") == qn.toDouble / qd.toDouble)
      }
    }
    // two disjoint triangles: LPA separates them perfectly and Newman's
    // formula gives exactly 1/2
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val r = Graph.modularityOf(
      tri.toDF("a", "b").withColumn("w", lit(Graph.StrongW))).head()
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(4) == 0.5)
  }

  test("truss: peel replay on random graphs; clique survives, hub dies") {
    def replay(edges0: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
      var cur = edges0.map { case (a, b) =>
        (math.min(a, b), math.max(a, b)) }.toSet
      (1 to Graph.TrussIters).map { i =>
        def nb(v: Long) = cur.collect {
          case (a, b) if a == v => b
          case (a, b) if b == v => a
        }
        cur = cur.filter { case (a, b) =>
          (nb(a) intersect nb(b)).size >= Graph.TrussK - 2 }
        (i.toLong, cur.flatMap(e => Seq(e._1, e._2)).size.toLong,
          cur.size.toLong)
      }
    }
    val rnd = new scala.util.Random(37)
    for (_ <- 1 to 3) {
      val n = 8 + rnd.nextInt(8)
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b").withColumn("w", lit(Graph.StrongW))
        val got = Graph.trussOf(df).collect()
          .map(r => (r.getAs[Long]("iter"), r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"))).toSeq
          .sortBy(_._1)
        assert(got == replay(edges), s"edges=$edges")
      }
    }
    // a 4-clique closes 2 triangles per edge (4-truss) and survives;
    // a star hub has k-core-fooling degree but ZERO support — gone in
    // one round
    val clique = for {
      a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val star = (10L to 20L).map(l => (5L, l))
    val df = (clique ++ star).toDF("a", "b")
      .withColumn("w", lit(Graph.StrongW))
    val trace = Graph.trussOf(df).collect()
      .map(r => r.getAs[Long]("iter") -> ((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges")))).toMap
    assert(trace(1L) == ((4L, 6L)))
    assert(trace(Graph.TrussIters.toLong) == ((4L, 6L)))
  }

  test("closeness: multi-source harmonic replay on random graphs") {
    val rnd = new scala.util.Random(29)
    for (_ <- 1 to 3) {
      val n = 10 + rnd.nextInt(10)
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b").withColumn("w", lit(Graph.StrongW))
        val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        val srcs = nbrs.toSeq
          .map { case (v, ns) => (-ns.size.toLong, v) }.sorted
          .take(Graph.CloseSources).map(_._2)
        val expect = srcs.map { s =>
          var dist = Map(s -> 0L)
          for (i <- 1 to Graph.BfsIters) {
            val frontier = dist.filter(_._2 == i - 1).keySet
            val fresh = frontier.flatMap(nbrs) -- dist.keySet
            dist = dist ++ fresh.map(_ -> i.toLong)
          }
          val reached = dist.filter(_._2 > 0)
          (s, reached.size.toLong,
            reached.values.map(Graph.CloseScale / _).sum)
        }.toSet
        val got = Graph.closenessOf(df).collect()
          .map(r => (r.getAs[Long]("node"), r.getAs[Long]("n_reached"), r.getAs[Long]("harm12"))).toSet
        assert(got == expect, s"edges=$edges srcs=$srcs")
      }
    }
    // cross-operator consistency on the fixture: the top-degree probe
    // source IS graph_distances' source, so its harmonic score must
    // equal the level census folded through CloseScale DIV d
    val census = Graph.distances(spark, Sf).collect()
      .map(r => (r.getAs[Long]("dist"), r.getAs[Long]("n_nodes"))).toMap
    val expectTop = census.filter(_._1 > 0)
      .map { case (d, c) => c * (Graph.CloseScale / d) }.sum
    val top = Graph.closeness(spark, Sf).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("harm12")))
    assert(top.length == Graph.CloseSources)
    assert(top.map(_._2).contains(expectTop))
  }

  test("betweenness: integer Brandes replay on random graphs, star hub") {
    val rnd = new scala.util.Random(41)
    def replay(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val srcs = nbrs.toSeq
        .map { case (v, ns) => (-ns.size.toLong, v) }.sorted
        .take(Graph.CloseSources).map(_._2)
      val acc = scala.collection.mutable.Map.empty[Long, Long]
      for (s <- srcs) {
        var dist = Map(s -> 0L)
        var sig = Map(s -> 1L)
        for (i <- 1 to Graph.BfsIters) {
          val frontier = dist.filter(_._2 == i - 1).keySet
          val contrib = scala.collection.mutable.Map.empty[Long, Long]
          for (u <- frontier; v <- nbrs(u) if !dist.contains(v))
            contrib(v) = contrib.getOrElse(v, 0L) + sig(u)
          dist = dist ++ contrib.keys.map(_ -> i.toLong)
          sig = sig ++ contrib
        }
        var dl = Map.empty[Long, Long]
        for (i <- (Graph.BfsIters - 1) to 1 by -1) {
          val next = scala.collection.mutable.Map.empty[Long, Long]
          for (v <- dist.filter(_._2 == i).keySet;
               w <- nbrs(v) if dist.get(w).contains(i + 1L)) {
            val c = (sig(v) * (Graph.BtScale + dl.getOrElse(w, 0L))) /
              sig(w)
            next(v) = next.getOrElse(v, 0L) + c
          }
          next.foreach { case (v, d) =>
            acc(v) = acc.getOrElse(v, 0L) + d }
          dl = next.toMap
        }
      }
      acc.toMap
    }
    for (_ <- 1 to 3) {
      val n = 10 + rnd.nextInt(10)
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b").withColumn("w", lit(Graph.StrongW))
        val expect = replay(edges).toSeq
          .sortBy { case (v, bc) => (-bc, v) }
          .take(Graph.BtTopK).zipWithIndex
          .map { case ((v, bc), i) => (v, bc, i + 1L) }.toSet
        val got = Graph.betweennessOf(df).collect()
          .map(r => (r.getAs[Long]("node"), r.getAs[Long]("bc"), r.getAs[Long]("rk"))).toSet
        assert(got == expect, s"edges=$edges")
      }
    }
    // star graph: all probe paths route through the hub, leaves carry 0
    val star = (2 to 10).map(l => (1L, l.toLong))
    val sg = Graph.betweennessOf(
      star.toDF("a", "b").withColumn("w", lit(Graph.StrongW))).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("bc"))).toMap
    assert(sg(1L) > 0L)
    assert(sg.filter(_._1 != 1L).values.forall(_ == 0L))
  }

  test("ppr: decays from the source and replays the integer walk") {
    val rnd = new scala.util.Random(31)
    val n = 14
    val edges = (for {
      a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
    } yield (a.toLong, b.toLong)).toSeq
    val df = edges.toDF("a", "b").withColumn("w", lit(Graph.StrongW))
    val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val deg = nbrs.map { case (k, v) => k -> v.size.toLong }
    val src = deg.toSeq.map { case (v, d) => (-d, v) }.min._2
    var pr = deg.keys.map(v =>
      v -> (if (v == src) Graph.PrScale else 0L)).toMap
    for (_ <- 1 to Graph.PprIters) {
      val contrib = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      pr.foreach { case (v, p) =>
        if (p > 0) nbrs(v).foreach(u => contrib(u) += p / deg(v))
      }
      pr = deg.keys.map { v =>
        v -> ((if (v == src) Graph.PrBase else 0L) +
          Graph.PrDamp * contrib(v) / 100L)
      }.toMap
    }
    val expect = pr.filter(_._2 > 0).toSeq
      .sortBy { case (v, p) => (-p, v) }.take(Graph.PprTopK)
      .zipWithIndex.map { case ((v, p), i) => (v, p, (i + 1).toLong) }
    val got = Graph.pprOf(df).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("ppr"), r.getAs[Long]("rk")))
      .sortBy(_._3).toSeq
    assert(got == expect, s"edges=$edges src=$src")
    // personalization: the source itself carries the top score
    assert(got.head._1 == src)
  }

  test("item recs: hand-checked Jaccard on the tiny graph") {
    // n_ord: p1=1 p2=1 p3=2 p4=1; jaccard: (1,2)=1.0, (1,3)=(2,3)=(3,4)=0.5
    val recs = Graph.itemRecsOf(tinyLineitem, Graph.edgesOf(tinyLineitem))
      .collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Long]("rec"), r.getAs[Double]("jaccard"), r.getAs[Long]("rk")))
    val byPart = recs.groupBy(_._1)
    assert(byPart(1L).sortBy(_._4).map(t => (t._2, t._3)).toSeq ==
      Seq((2L, 1.0), (3L, 0.5)), s"${byPart(1L).toSeq}")
    // part 3's neighbors all tie at 0.5 -> rec-id order, capped at k
    assert(byPart(3L).sortBy(_._4).map(_._2).toSeq == Seq(1L, 2L, 4L))
    assert(recs.forall(_._4 <= Graph.RecsTopK))
  }

  test("hits: authority ordering and the rescale fixed points") {
    // orders {p1,p2}, {p1,p2}, {p1,p3}: p1 sits in every order, p2 in
    // the two "stronger" hubs, p3 only in the weaker one
    val li = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L),
      (3L, 3L)).toDF("l_orderkey", "l_partkey")
    val rows = Graph.hitsOf(li).orderBy("rk").collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("auth"), r.getAs[Long]("rk")))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L), s"${rows.toSeq}")
    // the integer rescale pins the top authority at exactly the scale
    assert(rows.head._2 == Graph.HitsScale)
    assert(rows.forall(r => r._2 > 0 && r._2 <= Graph.HitsScale))
    // fixture run: dense ranks, same fixed-point invariant
    val fx = Graph.hits(spark, Sf).orderBy("rk").collect()
    assert(fx.length == Graph.HitsTopK)
    assert(fx.head.getAs[Long]("auth") == Graph.HitsScale)
    assert(fx.map(_.getAs[Long]("rk")).toSeq ==
      (1L to Graph.HitsTopK).toSeq)
  }

  test("assortativity: hand-checked values, star graph hits exactly -1") {
    // tiny graph degrees 2,2,3,1: m=8, sxy=38, sx=18, sx2=44
    // -> r = (8*38-324)/(8*44-324) = -20/28
    val r = Graph.assortativityOf(Graph.edgesOf(tinyLineitem)).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((8L, 38L, 18L, 44L)), s"$r")
    assert(r.getDouble(4) == -20.0 / 28.0, s"$r")
    // a star is the textbook perfectly-disassortative graph
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("a", "b").withColumn("w", lit(1L))
    assert(Graph.assortativityOf(star).head().getDouble(4) == -1.0)
  }

  test("components: strong-edge families, hand-checked histogram") {
    // w=2 edges: (1,2) from orders 10/11, (3,4) from 12/13, (4,5) from
    // 14/15 -> components {1,2} and {3,4,5}; the w=1 edge (6,7) from
    // order 16 must NOT merge anything
    val li = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 3L), (12L, 4L), (13L, 3L), (13L, 4L),
      (14L, 4L), (14L, 5L), (15L, 4L), (15L, 5L),
      (16L, 6L), (16L, 7L))
      .toDF("l_orderkey", "l_partkey")
    val hist = Graph.componentsOf(Graph.edgesOf(li)).collect()
      .map(r => r.getAs[Long]("size") -> r.getAs[Long]("n_components")).toMap
    assert(hist == Map(2L -> 1L, 3L -> 1L), s"$hist")
  }

  test("rank-1 ALS replays the quantized alternations exactly") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def q6(x: Double): JBD =
      new JBD(x).setScale(6, RoundingMode.HALF_UP)
    val rt = Tables(spark, Sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables(spark, Sf, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"), col("l_partkey")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var v = rt.map(_._2).distinct.map(_ -> 1.0).toMap
    var u = Map.empty[Long, Double]
    (1 to Graph.AlsIters).foreach { _ =>
      u = rt.groupBy(_._1).map { case (c, xs) =>
        val num = xs.map { case (_, p, r) => q6(r * v(p)) }
          .reduce(_.add(_))
        val den = xs.map { case (_, p, _) => q6(v(p) * v(p)) }
          .reduce(_.add(_))
        c -> num.doubleValue() / den.doubleValue()
      }
      v = rt.groupBy(_._2).map { case (p, xs) =>
        val num = xs.map { case (c, _, r) => q6(r * u(c)) }
          .reduce(_.add(_))
        val den = xs.map { case (c, _, _) => q6(u(c) * u(c)) }
          .reduce(_.add(_))
        p -> num.doubleValue() / den.doubleValue()
      }
    }
    val raters = rt.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
    val wantF = v.toSeq.map { case (p, f) => (p, f, raters(p)) }
      .sortBy { case (p, f, _) => (-f, p) }.take(Graph.AlsTopK)
    val gotF = Graph.alsFactors(spark, Sf).collect()
      .map(r => (r.getAs[Long]("p_key"), r.getAs[Double]("v"), r.getAs[Long]("n_raters"))).toSeq
    assert(gotF == wantF)
    // recs: canonical customer, unpurchased only, u·v ranking
    val cstar = rt.groupBy(_._1).map { case (c, xs) => (c, xs.size) }
      .toSeq.minBy { case (c, n) => (-n, c) }._1
    val owned = rt.filter(_._1 == cstar).map(_._2).toSet
    val wantR = v.toSeq.filterNot { case (p, _) => owned(p) }
      .map { case (p, f) => (cstar, p, f, u(cstar) * f) }
      .sortBy { case (_, p, _, s) => (-s, p) }.take(Graph.AlsRecK)
    val gotR = Graph.alsRecs(spark, Sf).collect()
      .map(r => (r.getAs[Long]("c_key"), r.getAs[Long]("p_key"), r.getAs[Double]("v"),
        r.getAs[Double]("pred"))).toSeq
    assert(gotR == wantR)
    assert(wantR.forall { case (_, _, f, s) => f > 0.0 && s > 0.0 })
    // plan: both reports cut to top-k via bounded per-partition heaps
    Seq(Graph.alsFactors(spark, Sf), Graph.alsRecs(spark, Sf)).foreach {
      df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("TakeOrderedAndProject"), plan)
    }
  }

  test("edge derivation is basket-local: no lineitem self-join") {
    // edgesOf directly: the cached `edges` entry point is a checkpoint
    // leaf, which would make this assertion vacuous
    val plan = Graph.edgesOf(Tables(spark, Sf, "lineitem"))
      .queryExecution.optimizedPlan
    val scans = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      case r: org.apache.spark.sql.catalyst.plans.logical.LeafNode => r
    }
    assert(scans.length == 1,
      s"expected ONE lineitem scan (basket-local pairs), got:\n$plan")
  }

  test("link prediction: RA scores hand-checked on the tiny graph") {
    // non-edges with a common neighbor: (1,4) and (2,4), both mediated
    // only by node 3 (degree 3), so ra = scale DIV 3 and cn = 1; the
    // tie breaks on x
    val got = Graph.linkPredOf(Graph.edgesOf(tinyLineitem)).collect()
      .map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"), r.getAs[Long]("cn"), r.getAs[Long]("ra_scaled")))
      .toSeq
    val third = Graph.LinkScale / 3
    assert(got == Seq((1L, 4L, 1L, third), (2L, 4L, 1L, third)))
  }

  test("link prediction: super-hub mediators are capped out") {
    val s = spark; import s.implicits._
    // star: center 0 with degree 150 > LinkHubCap — every leaf pair's
    // ONLY common neighbor is the capped hub, so nothing is predicted
    val star = (1 to 150).map(i => (0L, i.toLong, 1L))
      .toDF("a", "b", "w")
    assert(Graph.linkPredOf(star).isEmpty)
    // dropping the cap-side degree below the cap restores predictions
    val small = (1 to 3).map(i => (0L, i.toLong, 1L)).toDF("a", "b", "w")
    val preds = Graph.linkPredOf(small).collect()
    assert(preds.length == 3) // C(3,2) leaf pairs via the degree-3 hub
    preds.foreach(r => assert(r.getLong(3) == Graph.LinkScale / 3))
  }

  test("local clustering: hand-checked coefficients on the tiny graph") {
    // triangle {1,2,3} plus pendant 4-3: T = (1,1,1,0), degrees
    // (2,2,3,1); node 4 is excluded (d < 2)
    val got = Graph.localCcOf(Graph.edgesOf(tinyLineitem)).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("degree"), r.getAs[Long]("tri"), r.getAs[Double]("cc")))
      .toSeq
    assert(got == Seq((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 1.0 / 3.0)))
  }

  test("edge embeddedness: triangle edge gets support 1, pendant gets 0") {
    val got = Graph.edgeEmbedOf(Graph.edgesOf(tinyLineitem)).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        ((r.getAs[Long]("support"), r.getAs[Long]("union_nbrs"), r.getAs[Double]("embeddedness")))).toMap
    // triangle {1,2,3}: every triangle edge has support 1; (1,2) union
    // = 2+2-2-1 = 1 -> embeddedness 1.0; (1,3): 2+3-2-1 = 2 -> 0.5;
    // pendant (3,4): support 0, union 3+1-2 = 2 -> 0.0
    assert(got((1L, 2L)) == ((1L, 1L, 1.0)))
    assert(got((1L, 3L)) == ((1L, 2L, 0.5)))
    assert(got((2L, 3L)) == ((1L, 2L, 0.5)))
    assert(got((3L, 4L)) == ((0L, 2L, 0.0)))
  }

  test("triangle family serves from the shared cached kernel") {
    import org.apache.spark.sql.execution.RDDScanExec
    // pre-AQE sparkPlan: AdaptiveSparkPlanExec is opaque to collect()
    def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.sparkPlan
        .collect { case r: RDDScanExec => r.rdd.id }.toSet
    Graph.triangles(spark, Sf).collect() // warm the kernel cache
    val tri = Graph.triangles(spark, Sf)
    val cc = Graph.localCc(spark, Sf)
    val emb = Graph.edgeEmbed(spark, Sf)
    // no entry replans the kernel build: the degree/orientation
    // aggregates (collect_list adjacency, collect_set basket edges)
    // live BEHIND the session checkpoints, never in a per-call plan
    Seq(("graph_triangles", tri), ("graph_local_cc", cc),
        ("graph_edge_embed", emb)).foreach { case (n, df) =>
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("collect_list") && !plan.contains("collect_set"),
        s"$n rebuilds the kernel per call:\n$plan")
      assert(leaves(df).nonEmpty, s"$n reads no checkpointed kernel table")
    }
    // and the checkpointed tables are the SAME RDDs across entries —
    // a future operator silently rebuilding its own kernel (fresh RDD
    // ids, disjoint leaves) turns this red, not just slow
    assert((leaves(tri) intersect leaves(cc)).nonEmpty,
      "triangles and local_cc do not share kernel RDDs")
    assert((leaves(cc) intersect leaves(emb)).nonEmpty,
      "local_cc and edge_embed do not share kernel RDDs")
  }

  test("link prediction serves from the cached candidate index") {
    import org.apache.spark.sql.execution.RDDScanExec
    def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.sparkPlan
        .collect { case r: RDDScanExec => r.rdd.id }.toSet
    Graph.linkPred(spark, Sf).collect() // warm
    val a = Graph.linkPred(spark, Sf)
    val b = Graph.linkPred(spark, Sf)
    // per-call plan = TakeOrdered over the checkpointed candidates:
    // no wedge Generate, no anti-join, and the SAME index RDD each call
    val plan = a.queryExecution.sparkPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("LeftAnti"),
      s"link_pred rebuilds its index per call:\n$plan")
    assert(leaves(a).nonEmpty && leaves(a) == leaves(b),
      "repeated calls did not reuse the cached candidate index")
  }

  test("graft.materialize=reliable: the iterative forms cut every " +
    "round reliably, match the local session and release every cut") {
    // The cluster story is a conf flip: under a session with
    // graft.materialize=reliable, pagerankOf and trussOf must write
    // reliable checkpoints during the call, hash-match the local
    // session at toy and fixture scale, and leave no checkpoint behind
    // once the caller releases the result. graph_triangles covers the
    // triangle kernel's DAG-shaped stage cuts (trianglesOf itself does
    // not cut).
    withCheckpointDir { ckDir =>
      val rel = spark.newSession()
      rel.conf.set("graft.materialize", "reliable")
      try {
        def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
          df.collect().map(_.toString).toSet
        val inputs = Seq(
          "toy" -> (Graph.edgesOf(tinyLineitem),
            Graph.edgesOf(tinyLineitemIn(rel))),
          "fixture" -> (Graph.edges(spark, Sf), Graph.edges(rel, Sf)))
        val forms = Seq[(String, org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrame)](
          "pagerankOf" -> Graph.pagerankOf, "trussOf" -> Graph.trussOf)
        for ((scale, (local, reliable)) <- inputs;
             (name, f) <- forms) {
          val base = f(local)
          val want = rows(base)
          Materialize.release(base)
          val before = rddDirs(ckDir).toSet
          val out = f(reliable)
          assert(rddDirs(ckDir).toSet != before,
            s"$name ($scale) wrote no reliable checkpoint")
          assert(rows(out) == want && want.nonEmpty,
            s"$name ($scale) diverged under reliable")
          Materialize.release(out)
          assert(rddDirs(ckDir).toSet == before,
            s"$name ($scale) left reliable checkpoints behind: " +
              (rddDirs(ckDir).toSet -- before).mkString(", "))
        }
        val tri = SparkEntry.queries("graph_triangles")
        assert(rows(tri(rel, Sf)) == rows(tri(spark, Sf)),
          "graph_triangles diverged under reliable")
      } finally SessionCache.invalidate(rel)
    }
  }

  test("pagerank/hits serve the session rank cache; invalidate rebuilds") {
    import org.apache.spark.sql.execution.RDDScanExec
    def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.sparkPlan
        .collect { case r: RDDScanExec => r.rdd.id }.toSet
    def prRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("pr"),
        r.getAs[Long]("rk"))).toSet
    val pr = Graph.pagerank(spark, Sf)
    // the cached Local table is returned VERBATIM: reference identity
    // is the strongest no-recompute pin (no per-call plan at all)
    assert(pr eq Graph.pagerank(spark, Sf),
      "repeated pagerank calls re-ran the fixed-point loop")
    assert(Graph.hits(spark, Sf) eq Graph.hits(spark, Sf),
      "repeated hits calls re-ran the fixed-point loop")
    assert(Graph.components(spark, Sf) eq Graph.components(spark, Sf),
      "repeated components calls re-ran the label-propagation loop")
    // r13: the rest of the iterative/peel family serves the same cache
    val served = Seq[(String, (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame)](
      "kcore" -> Graph.kcore, "truss" -> Graph.truss,
      "distances" -> Graph.distances, "closeness" -> Graph.closeness,
      "betweenness" -> Graph.betweenness, "ppr" -> Graph.ppr,
      "label_prop" -> Graph.labelProp, "modularity" -> Graph.modularity)
    served.foreach { case (nm, f) =>
      assert(f(spark, Sf) eq f(spark, Sf),
        s"repeated $nm calls re-ran the converged loop/peel")
    }
    val first = prRows(pr)
    // the boundary call drops the converged ranks WITH their inputs;
    // a rebuilt fixed-point reproduces the identical table
    SessionCache.invalidate(spark, Sf)
    val rebuilt = Graph.pagerank(spark, Sf)
    assert(!(rebuilt eq pr) && (leaves(rebuilt) intersect leaves(pr)).isEmpty,
      "invalidate left the converged rank checkpoint cached")
    assert(prRows(rebuilt) == first)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lint: every driver-side `.collect()` in `src/main` must be a PINNED,
  * bounded pull. At 100 TB an unbounded collect is the other classic
  * scale-killer next to the unpartitioned window (WindowBoundSpec); the
  * round-8 audit verified all call sites carry bounded driver state
  * (query sets, centroids, codebooks, quantile boundaries, θ) — this
  * spec freezes that audit so a new collect fails commit-time until it
  * is reviewed and pinned with its bound. Source-level by design: a
  * plan-level check cannot see driver loops, and the pull happens at
  * plan-BUILD time for most of these.
  */
class CollectLintSpec extends AnyFunSuite {

  /** file (repo-relative) → allowed `.collect()` count, each justified:
    *
    *  - Similarity (10): the query sets (≤ nQueries rows) of the
    *    broadcast pair kernel and the int8, binary and PQ-ADC scorers;
    *    the one Lloyd trainer's seed and per-step means (k centroids
    *    per subspace: 16 coarse, 256·32 PQ); the PCA mean and dims²
    *    covariance — the FAISS training-state class; plus the MMR
    *    greedy fold's pool (≤ queries·MmrPool) and pair-sim
    *    (≤ queries·MmrPool²) pulls — the θ-class bounded model
    *    (docstring budget at mmrTopKOf).
    *  - TextOps (2): BPE merge table (MergeSteps rows) pulled to bake
    *    literal replaces into the plan, twice (train + apply).
    *  - Contamination (2): bounded Bloom register rows; the bounded
    *    eval-benchmark vectors for the semantic audit.
    *  - Bitext (2): the bounded mining batch (q vectors) and its
    *    ≤ q·k candidate targets.
    *  - Sgd (1): θ read-back — O(shards·features) per epoch.
    *  - Curation (2): the greedy coverage selector's per-step argmax
    *    (LIMIT-1 row) and chosen-doc term pull (≤ CovUniverse rows) —
    *    bounded driver state, K steps (docstring budget at
    *    coverageSelectOf).
    *  - Streams (2): the nine RFM quantile boundaries; the Markov
    *    attribution model pull — ≤ (|channels|+3)² transition rows,
    *    the θ-class bounded model (docstring budget at
    *    markovAttribution).
    *  - Bench (1): harness JVM warm-up, not an operator.
    *  - FaultProof (1): the executor-loss proof's serve-hash pull —
    *    bounded entry outputs (pair set / top-k ranks), harness-side.
    *  - FaultProofStream (1): the streaming proof's closed-session
    *    pull — ≤ |users|+1 rows per run, harness-side.
    */
  private val Pinned: Map[String, Int] = Map(
    "src/main/scala/graft/operators/Similarity.scala" -> 10,
    "src/main/scala/graft/operators/TextOps.scala" -> 2,
    "src/main/scala/graft/operators/Contamination.scala" -> 2,
    "src/main/scala/graft/operators/Bitext.scala" -> 2,
    "src/main/scala/graft/operators/Sgd.scala" -> 1,
    "src/main/scala/graft/operators/Curation.scala" -> 2,
    "src/main/scala/graft/streaming/Streams.scala" -> 2,
    "src/main/scala/graft/Bench.scala" -> 1,
    "src/main/scala/graft/FaultProof.scala" -> 1,
    "src/main/scala/graft/FaultProofStream.scala" -> 1
  )

  test("every src/main .collect() site is pinned with its driver bound") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repo root (cwd=${System.getProperty("user.dir")})")
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val n = java.nio.file.Files.readString(p)
          .sliding(".collect()".length).count(_ == ".collect()")
        p.toString -> n
      }
      .filter(_._2 > 0).toMap
    val drift = (found.keySet ++ Pinned.keySet).toSeq.sorted.flatMap {
      f =>
        val (got, want) = (found.getOrElse(f, 0), Pinned.getOrElse(f, 0))
        if (got == want) None
        else Some(s"$f: $got collect() sites, $want pinned")
    }
    assert(drift.isEmpty,
      s"""collect() drift — review each new site's driver bound, then pin:
         |  ${drift.mkString("\n  ")}""".stripMargin)
  }
}

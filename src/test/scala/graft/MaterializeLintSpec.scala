package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lint: every bare `.localCheckpoint()` in `src/main` must be a
  * PINNED, per-call TRANSIENT cut (the class [[Materialize.session]]'s
  * scaladoc carves out: staged tables that are consumed and released
  * within the same call, where on executor loss the query retries and
  * rebuilds them — nothing outlives the call). Everything
  * session-cached or iterative goes through the `graft.materialize`
  * seam ([[Materialize.session]]) so a cluster's `reliable` conf
  * reaches it; this spec freezes the audited transient sites so a NEW bare cut fails commit-time until
  * it is reviewed — the same discipline CollectLintSpec applies to
  * `.collect()`. Source-level by design (a plan check can't tell a
  * conf-backed checkpoint from a hardwired one).
  */
class MaterializeLintSpec extends AnyFunSuite {

  /** file (repo-relative) → allowed bare `.localCheckpoint()` count,
    * each a within-call transient:
    *
    *  - Materialize (1): the [[Materialize.Local]] strategy definition
    *    itself — the seam, not a bypass of it.
    *  - Apriori (1): `assocRulesOf`'s gated-support cut, read twice
    *    by the same call's rule expansion (the antecedent split and
    *    its support join) — uncut, the basket enumeration would run
    *    twice.
    *  - Bitext (1): the bounded mining-batch shortlist, per call.
    *  - Dedup (1): the recall audit's exact reference pair set —
    *    audit-only, per call.
    *  - Multimodal (1): the per-call frame-sample staging cut.
    *  - Similarity (1): the recall tally's exact top-k pair set
    *    (`matryoshka`, `simRecall`), read by the same call's
    *    denominator and semi-join, released once the output is forced.
    *  - Warehouse (1): the z-order audit's per-call staged sample.
    */
  private val Pinned: Map[String, Int] = Map(
    "src/main/scala/graft/Materialize.scala" -> 1,
    "src/main/scala/graft/operators/Apriori.scala" -> 1,
    "src/main/scala/graft/operators/Bitext.scala" -> 1,
    "src/main/scala/graft/operators/Dedup.scala" -> 1,
    "src/main/scala/graft/operators/Multimodal.scala" -> 1,
    "src/main/scala/graft/operators/Similarity.scala" -> 1,
    "src/main/scala/graft/operators/Warehouse.scala" -> 1
  )

  test("every src/main .localCheckpoint() site is a pinned transient") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repo root (cwd=${System.getProperty("user.dir")})")
    val needle = ".localCheckpoint()"
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val n = java.nio.file.Files.readString(p)
          .sliding(needle.length).count(_ == needle)
        p.toString -> n
      }
      .filter(_._2 > 0).toMap
    val drift = (found.keySet ++ Pinned.keySet).toSeq.sorted.flatMap {
      f =>
        val (got, want) = (found.getOrElse(f, 0), Pinned.getOrElse(f, 0))
        if (got == want) None
        else Some(s"$f: $got localCheckpoint() sites, $want pinned")
    }
    assert(drift.isEmpty,
      s"""bare localCheckpoint drift — session-cached/iterative state
         |must ride Materialize.session; pin only
         |reviewed within-call transients:
         |  ${drift.mkString("\n  ")}""".stripMargin)
  }

  test("no src/main function takes a Materialize.Strategy parameter") {
    // every function picks its own cut: the iterative forms and cached
    // builds cut with the session strategy (the `graft.materialize`
    // conf), the per-call forms with Local. A caller-picked strategy
    // parameter is a second knob that can skip the per-round cut or
    // ignore the conf, so none may come back. (`Materialize.widened`
    // takes the strategy it widens; Materialize.scala is the seam.)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repo root (cwd=${System.getProperty("user.dir")})")
    val param =
      """(?<!val |var )\b\w+\s*:\s*(?:graft\.)?Materialize\.Strategy\b""".r
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Materialize.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
          .collect { case (l, i) if param.findFirstIn(l).isDefined =>
            s"$p:${i + 1}: ${l.trim}" }
      }.toSeq
    assert(found.isEmpty,
      s"""${found.size} Materialize.Strategy parameter(s) — cut with
         |Materialize.session or Materialize.Local inside the function:
         |  ${found.mkString("\n  ")}""".stripMargin)
  }
}

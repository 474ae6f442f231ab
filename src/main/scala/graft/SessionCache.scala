package graft

import org.apache.spark.sql.SparkSession

/** The ONE session-lifetime cache discipline behind every operator
  * serving index (dedup shingle/band tables, the triangle kernel, the
  * int8/PQ/PCA serving indexes, the Bloom filter, the BPE merge table,
  * the coverage incidence, the DSIR distributions, the parquet
  * relations, …):
  *
  *  - keyed by (SparkSession, fixture dir, sub-key) — the dir is a
  *    required key part, the sub-key names the artifact within the
  *    operator (a kind tag, a conf-derived size, …; `()` when the
  *    operator caches one artifact per dir);
  *  - get + putIfAbsent, NEVER computeIfAbsent: builds nest (bands
  *    derive from shingles, scored pairs from the quantized corpus),
  *    and a nested computeIfAbsent on one map throws "Recursive
  *    update" when keys share a bin. A lost race builds one redundant
  *    deterministic table and releases it — harmless; holding a bin
  *    lock through a Spark job is not;
  *  - ONE boundary call, [[SessionCache.invalidate]]: a caller that
  *    rewrites parquet under a cached dir, or cycles sessions, drops
  *    every artifact of that (session, dir) in every cache at once —
  *    derived artifacts (ranks converged from cached edges, survivors
  *    filtered by a cached kept set, reports over a cached feature
  *    checkpoint) share their inputs' dir, so nothing is left serving
  *    a released input;
  *  - a dead-session sweep on every access: entries whose session has
  *    stopped are DROPPED (references only — no release call: the
  *    stopped context already reclaimed its blocks, and unpersist on a
  *    dead session throws), so session churn in a long-lived JVM (the
  *    repeated-test-session pattern) cannot accumulate pinned
  *    SparkSession/DataFrame references across the per-operator
  *    caches.
  */
final class SessionCache[V](release: V => Unit) {

  private val m =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Any), V]

  // register AFTER every field is initialized: publishing `this` to the
  // global registry first is a this-escape — a concurrent
  // SessionCache.invalidate racing another thread's first touch of an
  // operator singleton could observe m == null and NPE mid-walk
  SessionCache.register(this)

  private def sweep(): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getKey._1.sparkContext.isStopped) it.remove()
    }
  }

  def getOrBuild(spark: SparkSession, dir: String, sub: Any = ())(
      build: => V): V = {
    sweep()
    val k = (spark, dir, sub)
    val got = m.get(k)
    if (got != null) got
    else {
      val built = build
      val prev = m.putIfAbsent(k, built)
      if (prev != null) { release(built); prev } else built
    }
  }

  /** Drop every entry of (spark, dir), null meaning any. Live sessions
    * get their value released — once: only the caller whose remove
    * succeeds releases, so concurrent invalidates never double-free;
    * stopped ones are reference-dropped like [[sweep]].
    */
  private def drop(spark: SparkSession, dir: String): Unit =
    m.forEach { (k, v) =>
      if ((spark == null || (k._1 eq spark)) && (dir == null || k._2 == dir) &&
          m.remove(k, v) && !k._1.sparkContext.isStopped) release(v)
    }

  /** Test seam: number of live entries (post-sweep). */
  def size: Int = { sweep(); m.size() }
}

/** Registry of every [[SessionCache]] instance in the JVM (each is an
  * operator-object singleton, so the set is small and lives for the
  * application). A cache in a not-yet-loaded operator object is
  * unregistered AND empty, so the walk is still complete for any
  * session.
  */
object SessionCache {

  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[SessionCache[_]]

  private def register(c: SessionCache[_]): Unit = { registry.add(c): Unit }

  /** Release and drop every entry of (spark, dir) in every registered
    * cache: `dir = null` drops the whole session, `spark = null` every
    * session. The boundary call for a consumer that rewrites parquet
    * under a cached dir (the next access rebuilds from the new files),
    * for a mid-session `graft.materialize` flip, and for
    * [[Materialize.recovering]] after checkpoint-block loss.
    */
  def invalidate(spark: SparkSession = null, dir: String = null): Unit =
    registry.forEach(_.drop(spark, dir))
}

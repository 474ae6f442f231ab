package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark run in one fresh JVM: set up a `local[nproc]` session,
  * run the workload's entries as a cold pass and then warm passes until
  * the run's measuring time is spent, digest every entry's cold-pass
  * output for the caller to check, and write one JSON result file.
  *
  * A closed loop with one client: each entry runs to completion before
  * the next starts. The seed fixes the entry order of every pass.
  *
  * With `--trace 1` every entry is split into spans (operators call,
  * plan, execute, output check), its Spark jobs are tagged with the job
  * group `workload/pass/entry/phase`, and a listener attributes task
  * metrics to those groups; the spans are written once, at the end.
  *
  * `--setup-only 1` stops after the set-up query; the caller uses it to
  * sample set-up time in extra JVMs. `--dump DIR` writes every entry's
  * output as parquet plus its digest and oracle SQL, for producing the
  * expected digests.
  */
object Harness {

  final case class Span(id: Int, parent: Int, name: String, kind: String,
      startNs: Long, var endNs: Long = -1L)

  /** One entry of one pass. `digest` is empty when the output was not
    * checked in this pass; `err` is non-empty when the entry or its
    * check threw.
    */
  final case class EntryRes(name: String, digest: String, err: String,
      wallS: Double, callS: Double, planS: Double, execS: Double,
      phasesMs: Map[String, Long], nonCodegen: Seq[String])

  /** Task and job counters of one job group. */
  final class Counters {
    var jobs = 0; var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inputBytes = 0L; var inputRows = 0L
    def add(o: Counters, sign: Int = 1): Unit = {
      jobs += sign * o.jobs; stages += sign * o.stages
      tasks += sign * o.tasks
      runMs += sign * o.runMs; cpuNs += sign * o.cpuNs
      gcMs += sign * o.gcMs
      shuffleWrite += sign * o.shuffleWrite
      shuffleRead += sign * o.shuffleRead
      spill += sign * o.spill; inputBytes += sign * o.inputBytes
      inputRows += sign * o.inputRows
    }
  }

  /** Attributes jobs, stages and task metrics to the job group that was
    * set on the submitting thread. Only the listener thread writes.
    */
  final class GroupListener extends SparkListener {
    val byGroup = mutable.Map[String, Counters]()
    private val stageGroup = mutable.Map[Int, String]()
    private def of(g: String) = byGroup.getOrElseUpdate(g, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("untagged")
      of(g).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        of(stageGroup.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = of(stageGroup.getOrElse(e.stageId, "untagged"))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
    def snapshot(prefix: String): Counters = synchronized {
      val c = new Counters
      byGroup.foreach { case (g, v) => if (g.startsWith(prefix)) c.add(v) }
      c
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val t0Ms = a("t0-ms").toLong
    val out = a("out")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local-dir"))
      .config(graft.Tables.RequiredConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    if (a.get("setup-only").contains("1")) {
      write(out, s"""{"setup_s":$setupS,"cpus":$cpus}""")
      spark.stop()
      return
    }
    val run = new Run(spark, a, cpus)
    write(out,
      if (a.contains("dump")) run.dump(a("dump")) else run.run(setupS))
    spark.stop()
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(UTF_8))

  /** JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Order-insensitive digest of a DataFrame: row count plus the sum of
    * a 64-bit hash per row, with columns sorted by name and doubles
    * rounded to 6 places.
    */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(n => canon(col(s"`$n`"),
      df.schema(n).dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = df.agg(count(lit(1)),
      coalesce(sum(h.cast(DecimalType(38, 0))), lit(BigDecimal(0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType => round(c, 6)
    case FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType)
        .as(f.name)): _*)
    case MapType(kt, vt, _) =>
      canon(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt),
          StructField("value", vt)))))
    case _ => c
  }

  /** Operators of the final adaptive plan that run outside whole-stage
    * codegen. Wrappers (AQE root, query stages, input adapters, shuffle
    * reads), exchanges and leaf scans do not count: none of them could
    * run inside a codegen stage.
    */
  def nonCodegenNodes(plan: SparkPlan): Seq[String] = {
    val found = mutable.ArrayBuffer[String]()
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case s: QueryStageExec => walk(s.plan, false)
      case w: WholeStageCodegenExec => walk(w.child, true)
      case i: InputAdapter => walk(i.child, false)
      case e: Exchange => e.children.foreach(walk(_, false))
      case r: ReusedExchangeExec => walk(r.child, false)
      case r: AQEShuffleReadExec => walk(r.child, false)
      // a leaf is an input (file, in-memory or RDD scan), not an operator
      case l if l.children.isEmpty => ()
      case other =>
        if (!inCodegen) found += other.nodeName
        other.children.foreach(walk(_, inCodegen))
        other.subqueries.foreach(walk(_, false))
    }
    walk(plan, false)
    found.toSeq
  }
}

/** Runs the passes of one workload; see [[Harness]]. */
final class Run(spark: SparkSession, a: Map[String, String], cpus: Int) {
  import Harness._

  private val sc = spark.sparkContext
  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val dir = a("data")
  private val names = a("entries").split(",").toSeq
  private val fns = {
    val all = graft.SparkEntry.queries
    names.map(n => n -> all.getOrElse(n,
      throw new IllegalArgumentException(s"unknown entry $n"))).toMap
  }

  private val listener = new GroupListener
  private val spans = mutable.ArrayBuffer[Span]()
  private def open(parent: Int, name: String, kind: String): Span = {
    val s = Span(spans.size, parent, name, kind, System.nanoTime())
    if (trace) spans += s
    s
  }
  private def close(s: Span): Double = {
    s.endNs = System.nanoTime(); (s.endNs - s.startNs) / 1e9
  }
  private def group(g: String): Unit =
    if (trace) sc.setJobGroup(g, g, interruptOnCancel = false)

  private def errOf(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  private def runEntry(pass: String, passSpan: Int, name: String,
      check: Boolean): EntryRes = {
    val g = s"$workload/$pass/$name"
    val es = open(passSpan, name, "entry")
    var callS, planS, execS = 0.0
    var counting: Option[DataFrame] = None
    val t0 = System.nanoTime()
    val outcome = try {
      group(s"$g/call")
      val cs = open(es.id, "operators", "call")
      val df = fns(name)(spark, dir)
      callS = close(cs)
      if (trace) {
        group(s"$g/plan")
        val ps = open(es.id, "plan", "plan")
        val c = df.groupBy().count()
        c.queryExecution.executedPlan
        planS = close(ps)
        group(s"$g/execute")
        val xs = open(es.id, "execute", "execute")
        c.collect()
        execS = close(xs)
        counting = Some(c)
      } else df.count()
      Right(df)
    } catch { case scala.util.control.NonFatal(e) => Left(errOf(e)) }
    val wallS = (System.nanoTime() - t0) / 1e9
    // everything below is outside the timed span: the final adaptive
    // plan exists only after execution, and the output check re-runs
    // the entry's DataFrame
    val phases = counting.fold(Map.empty[String, Long])(
      _.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs })
    val nonCg = counting.fold(Seq.empty[String])(
      c => nonCodegenNodes(c.queryExecution.executedPlan))
    val checked: Either[String, String] = outcome.flatMap { df =>
      if (!check) Right("")
      else {
        group(s"$g/check")
        val ks = open(es.id, "check", "check")
        try Right(digest(df))
        catch {
          case scala.util.control.NonFatal(e) => Left("check " + errOf(e))
        }
        finally close(ks)
      }
    }
    close(es)
    EntryRes(name, checked.getOrElse(""), checked.swap.getOrElse(""),
      wallS, callS, planS, execS, phases, nonCg)
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names.sorted)

  /** (MB of persisted blocks in memory and on disk, persisted RDDs). */
  private def storage(): (Double, Int) = {
    val infos = sc.getRDDStorageInfo.filter(_.isCached)
    (infos.map(i => i.memSize + i.diskSize).sum / 1e6, infos.length)
  }

  def run(setupS: Double): String = {
    if (trace) sc.addSparkListener(listener)
    val runSpan = open(-1, "run", "run")
    val wlSpan = open(runSpan.id, workload, "workload")
    val passes = mutable.ArrayBuffer[String]()
    var cachedMb = 0.0
    var cachedRdds = 0
    var warmStart = 0L
    var lastWall = 0.0
    var pass = 0
    // the cold pass, then at least two warm passes, and more while the
    // next one, if it takes as long as the last, ends within `seconds`
    def more = pass <= 2 ||
      (System.nanoTime() - warmStart) / 1e9 + lastWall <= seconds
    while (more) {
      if (pass == 1) warmStart = System.nanoTime()
      val label = if (pass == 0) "cold" else s"warm$pass"
      val ord = order(pass)
      val ps = open(wlSpan.id, label, "pass")
      val rs = ord.map(n => runEntry(label, ps.id, n, check = pass == 0))
      close(ps)
      sc.clearJobGroup()
      val wall = rs.map(_.wallS).sum
      lastWall = wall
      if (pass == 0) {
        val st = storage(); cachedMb = st._1; cachedRdds = st._2
      }
      if (trace) BusDrain(sc)
      val layers = if (trace) layerJson(label, rs, wall) else "null"
      val entries = rs.map { r =>
        s"""{"name":${q(r.name)},"digest":${q(r.digest)},""" +
          s""""err":${q(r.err)},"wall_s":${num(r.wallS)}}"""
      }.mkString("[", ",", "]")
      passes += s"""{"pass":${q(label)},"wall_s":${num(wall)},""" +
        s""""order":${ord.map(q).mkString("[", ",", "]")},""" +
        s""""entries":$entries,"layers":$layers}"""
      pass += 1
    }
    close(wlSpan); close(runSpan)
    if (trace) writeSpans(a("spans"))
    s"""{"workload":${q(workload)},"seed":$seed,"cpus":$cpus,""" +
      s""""setup_s":${num(setupS)},"cached_mb":${num(cachedMb)},""" +
      s""""cached_rdds":$cachedRdds,""" +
      s""""passes":${passes.mkString("[", ",", "]")}}"""
  }

  /** Per-layer counters of one pass, from the job groups of its entries. */
  private def layerJson(label: String, rs: Seq[EntryRes], wall: Double)
      : String = {
    val pre = s"$workload/$label/"
    val call = new Counters
    rs.foreach(r => call.add(listener.snapshot(s"$pre${r.name}/call")))
    // timed work: every job group of the pass except the output checks
    val t = listener.snapshot(pre)
    rs.foreach(r => t.add(listener.snapshot(s"$pre${r.name}/check"), -1))
    def phase(p: String) = rs.map(_.phasesMs.getOrElse(p, 0L)).sum.toString
    val (mb, rdds) = storage()
    val fields = Seq(
      "operators.call_s" -> num(rs.map(_.callS).sum),
      "operators.jobs" -> call.jobs.toString,
      "cache.mb" -> num(mb),
      "cache.rdds" -> rdds.toString,
      "functions.noncodegen_nodes" -> rs.map(_.nonCodegen.size).sum.toString,
      "tables.input_mb" -> num(t.inputBytes / 1e6),
      "tables.input_rows" -> t.inputRows.toString,
      "spark.planner.analysis_ms" -> phase("analysis"),
      "spark.planner.optimization_ms" -> phase("optimization"),
      "spark.planner.planning_ms" -> phase("planning"),
      "spark.planner.plan_s" -> num(rs.map(_.planS).sum),
      "spark.scheduler.jobs" -> t.jobs.toString,
      "spark.scheduler.stages" -> t.stages.toString,
      "spark.scheduler.tasks" -> t.tasks.toString,
      "spark.scheduler.parallelism" -> num(t.runMs / 1e3 / wall),
      "spark.executor.run_s" -> num(t.runMs / 1e3),
      "spark.executor.cpu_s" -> num(t.cpuNs / 1e9),
      "spark.executor.gc_s" -> num(t.gcMs / 1e3),
      "spark.exchange.shuffle_write_mb" -> num(t.shuffleWrite / 1e6),
      "spark.exchange.shuffle_read_mb" -> num(t.shuffleRead / 1e6),
      "spark.exchange.spill_mb" -> num(t.spill / 1e6),
      "execute_s" -> num(rs.map(_.execS).sum))
    val nodes = rs.map(r => s"${q(r.name)}:" +
      r.nonCodegen.map(q).mkString("[", ",", "]")).mkString("{", ",", "}")
    val jobs = rs.map { r =>
      val c = listener.snapshot(s"$pre${r.name}/")
      c.add(listener.snapshot(s"$pre${r.name}/check"), -1)
      s"${q(r.name)}:${c.jobs}"
    }.mkString("{", ",", "}")
    fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "") +
      s""","noncodegen_by_entry":$nodes,"jobs_by_entry":$jobs}"""
  }

  private def writeSpans(path: String): Unit = {
    val body = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""kind":${q(s.kind)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    write(path, body)
  }

  /** Writes each entry's output as parquet under `out` with its digest,
    * and the oracle SQL of every entry that has one.
    */
  def dump(out: String): String = {
    val oracle = graft.SparkEntry.oracleSql
    val rows = names.sorted.map { n =>
      val df = fns(n)(spark, dir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      s"${q(n)}:{\"digest\":${q(digest(df))},\"oracle\":" +
        oracle.get(n).fold("null")(q) + "}"
    }
    rows.mkString("{", ",", "}")
  }
}

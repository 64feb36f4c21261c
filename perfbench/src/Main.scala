package perfbench

import graft.datalog.{Analysis, DatalogContext, Parser}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark main for the Datalog engine. One JVM runs one workload:
  * it generates the seeded inputs and their oracle answers, sets up the
  * session, then runs operations in a closed loop with one client for
  * the requested seconds. An operation is `loadProgram` + `query` (which
  * runs the fixpoint) + collect and checksum + `close`.
  *
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1`
  * it runs each round of operations untraced and traced and prints
  * per-layer metrics, per traced operation, plus the tracing overhead.
  * The last stdout line is the JSON result. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, traceOut: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (kv.get("selftest").contains("1")) { SelfTest.run(Paths.get(kv("work"))); return }
    val bootMs = ManagementFactory.getRuntimeMXBean.getUptime
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")), Paths.get(kv("trace-out")))
    // inputs and their oracle answers are built here, outside set-up
    val t0 = System.nanoTime()
    val wl = Workloads(a.workload, a.seed)
    new Run(a, wl, bootMs, (System.nanoTime() - t0) / 1000000).run()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => other.toString
  }

  def newSession(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Outcome of one operation. */
final case class OpResult(ok: Boolean, wallMs: Double, rows: Long, error: String)

/** Wraps each step of an operation; the traced run records spans here. */
trait Around { def apply[T](step: String)(f: => T): T }

object Around {
  val none: Around = new Around { def apply[T](step: String)(f: => T): T = f }
}

final class Run(a: Main.Args, wl: Workload, bootMs: Long, oracleMs: Long) {
  import Main._

  private var spark: SparkSession = _
  private var ctx: DatalogContext = _
  private val results = mutable.ArrayBuffer[OpResult]()
  private val failures = mutable.ArrayBuffer[String]()

  /** Wall time of one operation, checked against its oracle answer;
    * `i` is its place in the run, -1 for a warm-up. */
  private def runOp(op: Op, i: Int, around: Around = Around.none): OpResult = {
    val t0 = System.nanoTime()
    val res = try {
      around("DatalogContext.load")(ctx.loadProgram(op.program))
      val df = around("DatalogContext.query")(ctx.query(op.query))
      val got = around("result")(Answer.ofRows(df.collect()))
      around("DatalogContext.close")(ctx.close())
      val ms = (System.nanoTime() - t0) / 1e6
      if (got == op.expect) OpResult(ok = true, ms, got.rows, "")
      else OpResult(ok = false, ms, got.rows,
        s"${op.kind} ${op.query} answered ${got}, oracle ${op.expect}")
    } catch {
      case e: Exception =>
        try ctx.close() catch { case _: Exception => () }
        OpResult(ok = false, (System.nanoTime() - t0) / 1e6, 0,
          s"${op.kind} ${op.query} threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    results += res
    System.err.println(f"perfbench: op $i ${op.kind} ${op.query} ${res.wallMs}%.1f ms ${res.rows} rows ok=${res.ok}")
    if (!res.ok) failures += res.error
    res
  }

  /** Session start, input files, table loads and one warm-up op. */
  private def setUp(rep: Int): Unit = {
    if (spark != null) spark.stop()
    spark = newSession(a.work)
    val dir = a.work.resolve(s"inputs-$rep")
    Files.createDirectories(dir)
    wl.writeInputs(dir)
    ctx = new DatalogContext(spark)
    ctx.loadProgram(wl.decls)
    wl.inputs.foreach { case (rel, file, _) =>
      ctx.registerAndLoadTable(rel, dir.resolve(file).toString)
    }
    runOp(wl.ops.head, -1)
  }

  def run(): Unit = {
    // set-up is repeated and its median reported; the traced run does
    // not report it and sets up once
    val setups = if (a.trace) 1 else 2
    val setupS = (0 until setups).map { rep =>
      val t0 = System.nanoTime()
      setUp(rep)
      val s = (System.nanoTime() - t0) / 1e9
      // the first set-up also pays for starting the JVM
      if (rep == 0) s + bootMs / 1e3 else s
    }
    val metrics =
      if (a.trace) traced()
      else {
        val start = System.nanoTime()
        val first = results.length
        val deadline = start + a.seconds * 1000000000L
        var i = 0
        while (System.nanoTime() < deadline || i % wl.round != 0) {
          runOp(wl.ops(i % wl.ops.length), i)
          i += 1
        }
        val secs = (System.nanoTime() - start) / 1e9
        val timed = results.drop(first)
        val ms = timed.map(_.wallMs).toSeq
        Map(
          "setup_s" -> (median(setupS), "s"),
          "op_ms_p50" -> (median(ms), "ms"),
          "op_ms_p90" -> (quantile(ms, 0.9), "ms"),
          "ops_per_s" -> (timed.length / secs, "1/s"),
          "facts_per_s" -> (timed.map(_.rows).sum / secs, "1/s"))
      }
    spark.stop()
    System.err.println(s"perfbench: ${a.workload} seed ${a.seed}: ${results.length} ops, " +
      s"${failures.length} failed; oracle ${oracleMs} ms; setups ${setupS.map(x => f"$x%.3f").mkString(" ")} s")
    failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
    println(json(Map(
      "correct" -> failures.isEmpty,
      "attempted" -> results.length,
      "failed" -> failures.length,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
  }

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  private def oldGenPeakMb(): Double =
    oldGen.map(_.getPeakUsage.getUsed / 1048576.0).getOrElse(0.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Traced run: rounds of the workload's ops, each op run once
    * untraced and once traced, until the time is up. */
  private def traced(): Map[String, (Double, String)] = {
    val sparkRec = new SparkRecorder
    val catRec = new CatalystRecorder
    spark.sparkContext.addSparkListener(sparkRec)
    spark.listenerManager.register(catRec)
    oldGen.foreach(_.resetPeakUsage())
    val sc = spark.sparkContext
    val windows = mutable.Map[Int, (Long, Long)]()
    val tracedOps = mutable.ArrayBuffer[Int]()
    val pairs = mutable.ArrayBuffer[(Int, Int)]() // (untraced id, traced id)
    val spans = mutable.ArrayBuffer[String]()
    val counts = mutable.Map[Int, mutable.Map[String, Double]]()
    val t00 = System.nanoTime()
    val deadline = t00 + a.seconds * 1000000000L
    var id = 1000000
    def one(i: Int, trace: Boolean): Int = {
      id += 1
      val opId = id
      sc.setLocalProperty(SparkRecorder.OpProperty, opId.toString)
      spark.conf.set("spark.datalog.recursion.collectstats", trace.toString)
      val c = mutable.Map[String, Double]()
      val rddsBefore = sc.getPersistentRDDs.size
      val gc0 = gcMs()
      val op = wl.ops(i % wl.ops.length)
      Thread.sleep(3) // separates op windows for time-attributed events
      val startMs = System.currentTimeMillis()
      val opStart = System.nanoTime()
      def span(name: String, parent: String, s: Long, e: Long): Unit =
        spans += json(Map("op" -> opId, "index" -> i, "kind" -> op.kind, "span" -> name,
          "parent" -> parent, "start_us" -> (s - t00) / 1000, "end_us" -> (e - t00) / 1000))
      val around: Around =
        if (!trace) Around.none
        else new Around { def apply[T](name: String)(f: => T): T = {
          if (name == "DatalogContext.load") {
            // the front end, timed through its public entry points
            var t = System.nanoTime()
            val prog = Parser.parseProgram(op.program)
            Parser.parseQuery(op.query)
            var u = System.nanoTime()
            c("Parser.parse_ms") = (u - t) / 1e6
            span("Parser.parse", "op", t, u)
            t = System.nanoTime()
            val an = new Analysis(prog)
            prog.rules.map(_.head.pred).distinct.filter(an.isRecursive).foreach(an.cliqueOf)
            u = System.nanoTime()
            c("Analysis.analyze_ms") = (u - t) / 1e6
            span("Analysis.analyze", "op", t, u)
          }
          if (name == "DatalogContext.close") {
            c("Evaluator.template_hits") = ctx.planTemplateHits
            c("Evaluator.localized_slices") = ctx.localizedSlices
            c("Evaluator.driver_runs") = ctx.localIterateRuns + ctx.localIterateMonoRuns +
              ctx.supportLocalRuns + ctx.monotonicLocalRuns + ctx.mutualLocalRuns
            c("Evaluator.bound_pushdown") = if (ctx.lastBoundPushdown) 1 else 0
            val stats = ctx.iterationStats
            c("Evaluator.iterations") = stats.length
            c("Evaluator.delta_rows") = stats.map(_._3).sum
          }
          val t = System.nanoTime()
          val r = f
          val u = System.nanoTime()
          span(name, "op", t, u)
          name match {
            case "DatalogContext.load" => c("DatalogContext.load_ms") = (u - t) / 1e6
            case "DatalogContext.query" => c("Evaluator.query_ms") = (u - t) / 1e6
            case "DatalogContext.close" => c("DatalogContext.close_ms") = (u - t) / 1e6
            case _ => c("result_ms") = (u - t) / 1e6
          }
          r
        } }
      val res = runOp(op, i, around)
      val opEnd = System.nanoTime()
      windows(opId) = (startMs, System.currentTimeMillis())
      c("op_ms") = res.wallMs
      c("Evaluator.answer_rows") = res.rows
      c("storage.rdds_leaked") = sc.getPersistentRDDs.size - rddsBefore
      c("jvm.gc_ms") = (gcMs() - gc0).toDouble
      if (trace) span("op", "", opStart, opEnd)
      counts(opId) = c
      opId
    }
    // each op runs untraced and traced back to back, the two orders taking
    // turns over an even number of pairs, so the JVM warming up during
    // the run favours neither side
    var r = 0
    while (r == 0 || r * wl.round % 2 == 1 || System.nanoTime() < deadline) {
      for (j <- 0 until wl.round) {
        val pair =
          if ((r * wl.round + j) % 2 == 0) { val p = one(j, trace = false); (p, one(j, trace = true)) }
          else { val t = one(j, trace = true); (one(j, trace = false), t) }
        pairs += pair
        tracedOps += pair._2
      }
      r += 1
    }
    val heapPeak = oldGenPeakMb()
    spark.conf.unset("spark.datalog.recursion.collectstats")
    sc.setLocalProperty(SparkRecorder.OpProperty, null)
    // stopping the context drains the listener bus: every event is in
    spark.stop()
    val sparkCounts = sparkRec.perOp(windows.get)
    val catCounts = catRec.perOp(t => windows.collectFirst { case (op, (s, e)) if t >= s && t <= e => op })
    val all: Map[Int, Map[String, Double]] = counts.map { case (op, c) =>
      op -> (c.toMap ++ sparkCounts.getOrElse(op, Map.empty) ++ catCounts.getOrElse(op, Map.empty))
    }.toMap
    def v(op: Int, k: String) = all(op).getOrElse(k, 0.0)
    val withGap = all.map { case (op, m) =>
      op -> (m + ("spark.driver_gap_ms" -> (m("op_ms") - m.getOrElse("spark.job_active_ms", 0.0))))
    }
    def mean(k: String, ops: Seq[Int] = tracedOps.toSeq): Double =
      ops.map(op => withGap(op).getOrElse(k, 0.0)).sum / ops.length
    writeTrace(spans.toSeq, withGap, tracedOps.toSet)

    val ms = "ms"; val n = "count"; val b = "bytes"
    val layer = Seq(
      "Parser.parse_ms" -> ms, "Analysis.analyze_ms" -> ms,
      "DatalogContext.load_ms" -> ms, "DatalogContext.close_ms" -> ms,
      "Evaluator.query_ms" -> ms, "Evaluator.iterations" -> n, "Evaluator.delta_rows" -> n,
      "Evaluator.template_hits" -> n, "Evaluator.localized_slices" -> n,
      "Evaluator.driver_runs" -> n, "Evaluator.answer_rows" -> n,
      "catalyst.executions" -> n, "catalyst.analysis_ms" -> ms,
      "catalyst.optimization_ms" -> ms, "catalyst.planning_ms" -> ms,
      "spark.jobs" -> n, "spark.stages" -> n, "spark.job_active_ms" -> ms,
      "spark.driver_gap_ms" -> ms, "spark.tasks" -> n, "spark.task_run_ms" -> ms,
      "spark.task_cpu_ms" -> ms, "spark.sched_delay_ms" -> ms,
      "spark.shuffle_write_bytes" -> b, "spark.shuffle_read_bytes" -> b,
      "spark.shuffle_records" -> n, "spark.spill_bytes" -> b, "spark.result_bytes" -> b,
      "spark.failed_tasks" -> n, "storage.rdds_leaked" -> n, "jvm.gc_ms" -> ms
    ).map { case (k, u) => k -> (mean(k), u) }.toMap
    val jobs = mean("spark.jobs")
    val overhead = pairs.map { case (p, t) => v(t, "op_ms") - v(p, "op_ms") }.toSeq
    layer ++ Map(
      "Evaluator.bound_pushdown_ratio" -> (mean("Evaluator.bound_pushdown"), "ratio"),
      "catalyst.sql_job_ratio" -> (if (jobs > 0) mean("catalyst.sql_jobs") / jobs else 0.0, "ratio"),
      "jvm.heap_peak_mb" -> (heapPeak, "MB"),
      "trace.collectstats_extra_jobs" ->
        (mean("spark.jobs") - mean("spark.jobs", pairs.map(_._1).toSeq), "count"),
      "trace.overhead_ms" -> (median(overhead), ms),
      "trace.untraced_op_ms" -> (median(pairs.map(p => v(p._1, "op_ms")).toSeq), ms),
      "trace.ops" -> (tracedOps.length.toDouble, n))
  }

  /** Spans and per-op counts, kept in memory during the run. */
  private def writeTrace(spans: Seq[String], counts: Map[Int, Map[String, Double]], traced: Set[Int]): Unit = {
    Files.createDirectories(a.traceOut.getParent)
    val lines = spans ++ counts.toSeq.sortBy(_._1).map { case (op, c) =>
      json(Map("op" -> op, "traced" -> traced(op), "counts" -> c.toSeq.sortBy(_._1).toMap))
    }
    Files.write(a.traceOut, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

package graft.datalog

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The driver-resident monotonic and support arms size a static from
  * its exact row count before any row moves. A static past the 2^20-row
  * ceiling rejects the arm with no rows shipped to the driver and no
  * job beyond the static's one materialization, which the distributed
  * fallback then reuses. Each case runs a tiny-seed fixpoint over an
  * over-ceiling static, once loaded from CSV (a finite plan-stats
  * estimate) and once RDD-backed (the sentinel estimate). */
class StaticSizingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val db = "database({warc(X:integer, Y:integer, C:integer)})."
  private val sssp = db +
    "sp(X, mmin<D>) <- X=0, D=0. " +
    "sp(Y, mmin<D>) <- sp(X, D1), warc(X, Y, C), D = D1 + C. " +
    "dist(X, min<D>) <- sp(X, D)."
  private val msum = db +
    "cp(X, msum<(S, C)>) <- X=0, S= -1, C=1. " +
    "cp(Y, msum<(X, C)>) <- cp(X, C), warc(X, Y, _)."

  /** The part reachable from node 0: a 6-node DAG. */
  private val reachable: Seq[(Int, Int, Int)] =
    (0 until 5).map(i => (i, i + 1, 2)) ++ (0 until 4).map(i => (i, i + 2, 5))
  /** Edges among nodes >= 1000, never reached from node 0, that push
    * the static past the 2^20-row ceiling. */
  private val filler = 1100000
  private val staticRows = reachable.length + filler

  private val expectedDist: Set[String] = {
    val d = mutable.Map(0 -> 0)
    for (_ <- reachable.indices; (x, y, c) <- reachable; dx <- d.get(x))
      if (d.get(y).forall(_ > dx + c)) d(y) = dx + c
    d.map { case (n, v) => s"[$n,$v]" }.toSet
  }
  private val expectedPaths: Set[String] = {
    val paths = mutable.Map(0 -> 1L)
    for (y <- 1 to 5)
      paths(y) = reachable.filter(_._2 == y).map(e => paths(e._1)).sum
    paths.map { case (n, v) => s"[$n,$v]" }.toSet
  }

  private lazy val csvPath: String = {
    val f = java.nio.file.Files.createTempFile("static-sizing-", ".csv")
    f.toFile.deleteOnExit()
    val w = java.nio.file.Files.newBufferedWriter(f)
    try {
      reachable.foreach { case (x, y, c) => w.write(s"$x,$y,$c\n") }
      (0 until filler).foreach { k =>
        val (x, y, c) = StaticSizingSpec.fillerEdge(k, filler)
        w.write(s"$x,$y,$c\n")
      }
    } finally w.close()
    f.toString
  }

  private def rddBacked(s: SparkSession) = {
    val schema = StructType(Seq("X", "Y", "C").map(StructField(_, IntegerType)))
    val small = reachable.map { case (x, y, c) => Row(x, y, c) }
    val n = filler
    val rdd = s.sparkContext.parallelize(small, 1)
      .union(s.sparkContext.parallelize(0 until n, 4)
        .map { k => val (x, y, c) = StaticSizingSpec.fillerEdge(k, n); Row(x, y, c) })
    s.createDataFrame(rdd, schema)
  }

  private case class Run(rows: Set[String], armRuns: Int, jobs: Int,
      resultBytes: Long)

  private def run(program: String, query: String, load: DatalogContext => Unit,
      armRuns: DatalogContext => Int, confs: (String, String)*): Run =
    withConf(confs: _*) {
      val ctx = new DatalogContext(spark)
      ctx.loadProgram(program)
      load(ctx)
      val sc = spark.sparkContext
      org.apache.spark.ListenerDrain(sc)
      @volatile var jobs = 0
      @volatile var resultBytes = 0L
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) resultBytes += t.taskMetrics.resultSize
      }
      sc.addSparkListener(listener)
      try {
        val rows = ctx.queryStrings(query).toSet
        org.apache.spark.ListenerDrain(sc)
        val r = Run(rows, armRuns(ctx), jobs, resultBytes)
        ctx.close()
        r
      } finally sc.removeSparkListener(listener)
    }

  private val loads: Seq[(String, DatalogContext => Unit)] = Seq(
    "CSV (finite estimate)" -> (ctx => ctx.registerAndLoadTable("warc", csvPath)),
    "RDD-backed (sentinel estimate)" -> (ctx => ctx.registerTable("warc", rddBacked(spark))))

  test("the loads under test are over the ceiling and estimated as intended") {
    val threshold = 10L * 1024 * 1024
    assert(staticRows > (1 << 20))
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(csvPath)) > threshold,
      "the CSV must be estimated above the broadcast threshold")
    assert(rddBacked(spark).queryExecution.optimizedPlan.stats.sizeInBytes >=
      (BigInt(1) << 50), "an RDD-backed relation must carry the sentinel estimate")
  }

  test("the same shapes engage the driver arms when the static fits") {
    val small = reachable.map { case (x, y, c) => s"$x,$y,$c" }
    val load: DatalogContext => Unit = _.registerData("warc", small)
    val mono = run(sssp, "dist(X, D).", load, _.monotonicLocalRuns)
    assert(mono.armRuns == 1 && mono.rows == expectedDist)
    val sup = run(msum, "cp(N, C).", load, _.supportLocalRuns)
    assert(sup.armRuns == 1 && sup.rows == expectedPaths)
  }

  for ((form, load) <- loads) {
    test(s"monotoniclocal rejects an over-ceiling static by count: $form") {
      val key = "spark.datalog.recursion.monotoniclocal"
      val off = run(sssp, "dist(X, D).", load, _.monotonicLocalRuns, key -> "false")
      val auto = run(sssp, "dist(X, D).", load, _.monotonicLocalRuns, key -> "auto")
      assert(off.rows == expectedDist)
      assert(auto.rows == off.rows)
      assert(auto.armRuns == 0 && off.armRuns == 0)
      assert(auto.jobs == off.jobs,
        s"rejection scheduled extra jobs: auto ${auto.jobs} vs off ${off.jobs}")
      assert(auto.resultBytes < (1L << 20),
        s"rejection shipped ${auto.resultBytes} result bytes to the driver")
    }

    test(s"supportlocal rejects an over-ceiling static by count: $form") {
      val key = "spark.datalog.recursion.supportlocal"
      val off = run(msum, "cp(N, C).", load, _.supportLocalRuns, key -> "false")
      val auto = run(msum, "cp(N, C).", load, _.supportLocalRuns, key -> "auto")
      assert(off.rows == expectedPaths)
      assert(auto.rows == off.rows)
      assert(auto.armRuns == 0 && off.armRuns == 0)
      assert(auto.jobs == off.jobs,
        s"rejection scheduled extra jobs: auto ${auto.jobs} vs off ${off.jobs}")
      assert(auto.resultBytes < (1L << 20),
        s"rejection shipped ${auto.resultBytes} result bytes to the driver")
    }
  }
}

object StaticSizingSpec {
  /** Filler edge `k` of `n`: both ends in [1000, 1000 + n), so none is
    * reachable from the small DAG. */
  def fillerEdge(k: Int, n: Int): (Int, Int, Int) =
    (1000 + k, 1000 + ((k.toLong * 31 + 7) % n).toInt, 1 + k % 9)
}

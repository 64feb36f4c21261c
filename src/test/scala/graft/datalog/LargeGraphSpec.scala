package graft.datalog

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Fixpoints at the reference's benchmark-graph scale: reachability
  * over a seeded G(10k, 100,185) random graph (the shape of the
  * reference's gnp10K resource), loaded from CSV and checked against
  * an in-memory BFS oracle. */
class LargeGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("reach over a G(10k, 100k) graph matches BFS") {
    val edges = TestGraphs.gnm(n = 10000, m = 100185, seed = 10L)
    val gnp = TestGraphs.writeCsv(edges, "gnp10k-")
    // BFS oracle from vertex 0
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seen = mutable.Set(0)
    var frontier = List(0)
    while (frontier.nonEmpty)
      frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .filterNot(seen).distinct
        .tapEach(seen += _)

    val ctx = new DatalogContext(spark)
    ctx.loadProgram(
      "database({arc(X:integer, Y:integer)})." +
        "reach(X) <- X=0. reach(Y) <- reach(X), arc(X,Y).")
    ctx.registerAndLoadTable("arc", gnp)
    val got = ctx.query("reach(A).").collect().map(_.getInt(0)).toSet
    assert(got == seen.toSet)
    assert(got.size > 1000, s"suspiciously small reach set: ${got.size}")
  }
}

package perfbench

import java.nio.file.Path

/** One benchmark operation: load `program`, run `query`, collect the
  * answer and compare it with `expect`. */
final case class Op(kind: String, program: String, query: String, expect: Answer)

/** A seeded workload: the input files the engine reads, and the cyclic
  * sequence of operations run against them. */
trait Workload {
  /** The declarations the input files are loaded under. */
  def decls: String
  /** (relation, csv file name, graph written there). */
  def inputs: Seq[(String, String, Graph)]
  /** Operations in run order; a run cycles through them. The first one,
    * the cheapest, also ends each set-up as its untimed warm-up. */
  def ops: IndexedSeq[Op]
  /** Operations per round: a run ends only at a round boundary, so every
    * run holds the same mix of operation kinds. */
  def round: Int

  def writeInputs(dir: Path): Unit =
    inputs.foreach { case (_, file, g) => g.writeCsv(dir.resolve(file)) }
}

object Workloads {
  val names: Seq[String] = Seq("tc_grid", "mono_gnp", "bound_mix")

  def apply(name: String, seed: Long): Workload = name match {
    case "tc_grid" => new TcGrid(seed)
    case "mono_gnp" => new MonoGnp(seed)
    case "bound_mix" => new BoundMix(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** Deep recursion with tiny deltas: linear TC over a directed grid.
    * Every seed derives the same number of facts in the same number of
    * iterations, so per-iteration fixed cost is what varies. */
  final class TcGrid(seed: Long, side: Int = TcGrid.side) extends Workload {
    val decls = "database({arc(From:integer, To:integer)})."
    val graph: Graph = Graphs.grid(side, seed)
    val inputs = Seq(("arc", "arc.csv", graph))
    val ops = IndexedSeq(Op("tc", decls +
      " tc(A,B) <- arc(A,B). tc(A,B) <- tc(A,C), arc(C,B).",
      "tc(A,B).", Oracles.closure(graph)))
    val round = 1
  }
  object TcGrid { val side = 8 }

  /** Shallow, wide monotonic recursion: mmin connected components and
    * mmin single-source shortest paths over the symmetric closure of a
    * G(n, m) graph. Both ops join against the 2m-row symmetric edge
    * relation, above the engine's driver-resident ceilings (2^18 groups,
    * 2^20 static rows), so the distributed monotonic loop runs. */
  final class MonoGnp(seed: Long, n: Int = MonoGnp.nodes, m: Int = MonoGnp.edges) extends Workload {
    val decls = "database({warc(From:integer, To:integer, Cost:integer)})."
    val graph: Graph = Graphs.gnm(n, m, 100, seed)
    val inputs = Seq(("warc", "warc.csv", graph))
    private val sym = new Graph(n, graph.src ++ graph.dst, graph.dst ++ graph.src, graph.cost ++ graph.cost)
    /** A seeded source that touches an edge. */
    val source: Int = {
      val r = Graphs.rng(seed, 4)
      var s = r.nextInt(n)
      while (sym.off(s + 1) == sym.off(s)) s = r.nextInt(n)
      s
    }
    private val uarc = " uarc(X,Y,C) <- warc(X,Y,C). uarc(X,Y,C) <- warc(Y,X,C)."
    val ops = IndexedSeq(
      Op("cc", decls + uarc +
        " cc3(X,mmin<X>) <- uarc(X,_,_). cc3(Y,mmin<V>) <- cc3(X,V), uarc(X,Y,_)." +
        " cc2(X,min<Y>) <- cc3(X,Y).",
        "cc2(X,Y).", Oracles.components(graph)),
      Op("sssp", decls + uarc +
        s" mminpath(X,mmin<D>) <- X=$source, D=0." +
        " mminpath(Z,mmin<D>) <- mminpath(X,D1), uarc(X,Z,D2), D=D1+D2." +
        " sssp(X,min<D>) <- mminpath(X,D).",
        "sssp(X,D).", Oracles.shortestPaths(sym, source)))
    val round = 2
  }
  object MonoGnp { val nodes = 50000; val edges = 550000 }

  /** Interactive bound queries over a tree of depth 8: many small
    * restricted fixpoints, alternating bound tc and bound path-cost
    * queries. A round asks one query per depth, from depth 7 (one
    * iteration) up to the root (eight), each at a seeded node of that
    * depth. The tree's shape and the order are the same for every seed,
    * so every round does the same iterations and derives the same facts,
    * and every op meets the JVM equally warm. */
  final class BoundMix(seed: Long) extends Workload {
    val decls = "database({warc(From:integer, To:integer, Cost:integer)})."
    val (graph, levels) = Graphs.tree(BoundMix.fanout, 10, seed)
    val inputs = Seq(("warc", "warc.csv", graph))
    private val tcProgram = decls +
      " tc(A,B) <- warc(A,B,_). tc(A,B) <- tc(A,C), warc(C,B,_)."
    private val mpProgram = decls +
      " mp(A,B,D) <- warc(A,B,D). mp(A,B,D) <- mp(A,C,D1), warc(C,B,D2), D=D1+D2."
    val ops: IndexedSeq[Op] = {
      val r = Graphs.rng(seed, 5)
      // leaves have empty answers, so depths stop above them
      (BoundMix.fanout.length - 1 to 0 by -1).map { d =>
        val k = levels(d)(r.nextInt(levels(d).length))
        val (tc, mp) = Oracles.subtree(graph, k)
        if (d % 2 == 0) Op("tc", tcProgram, s"tc($k,B).", tc)
        else Op("mp", mpProgram, s"mp($k,B,D).", mp)
      }
    }
    val round = ops.length
  }
  object BoundMix {
    /** Children per node at depths 0..7: a depth-8 tree of 54,613 nodes. */
    val fanout = Seq(4, 4, 4, 4, 4, 4, 4, 2)
  }
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** A directed edge list over nodes 0 until n; `cost` is empty for
  * unweighted graphs. */
final class Graph(val n: Int, val src: Array[Int], val dst: Array[Int], val cost: Array[Int]) {
  def m: Int = src.length
  def weighted: Boolean = cost.nonEmpty

  /** CSR adjacency: out-edges of u are edge indices adj(off(u)) until adj(off(u + 1)). */
  lazy val (off, adj): (Array[Int], Array[Int]) = {
    val o = new Array[Int](n + 1)
    src.foreach(u => o(u + 1) += 1)
    var i = 0
    while (i < n) { o(i + 1) += o(i); i += 1 }
    val fill = o.clone()
    val a = new Array[Int](m)
    i = 0
    while (i < m) { a(fill(src(i))) = i; fill(src(i)) += 1; i += 1 }
    (o, a)
  }

  /** One `from,to[,cost]` line per edge, in edge order. */
  def writeCsv(path: Path): Unit = {
    val sb = new java.lang.StringBuilder(m * 16)
    var i = 0
    while (i < m) {
      sb.append(src(i)).append(',').append(dst(i))
      if (weighted) sb.append(',').append(cost(i))
      sb.append('\n')
      i += 1
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.US_ASCII))
  }
}

/** Seeded input generators. Every draw comes from one SplittableRandom
  * per generator, so a seed fixes the bytes of every file. */
object Graphs {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(Answer.mix(seed * 0x2545f4914f6cdd1dL + salt))

  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  private def shuffled(g: Graph, r: SplittableRandom): Graph = {
    val order = permutation(g.m, r)
    new Graph(g.n, order.map(g.src), order.map(g.dst),
      if (g.weighted) order.map(g.cost) else Array.emptyIntArray)
  }

  /** side×side grid with right and down edges; node ids go through a
    * seeded permutation and edges are written in seeded order, so every
    * seed has the same shape and the same closure size. */
  def grid(side: Int, seed: Long): Graph = {
    val r = rng(seed, 1)
    val id = permutation(side * side, r)
    val s = mutable.ArrayBuilder.make[Int]
    val d = mutable.ArrayBuilder.make[Int]
    for (row <- 0 until side; col <- 0 until side) {
      val u = id(row * side + col)
      if (col + 1 < side) { s += u; d += id(row * side + col + 1) }
      if (row + 1 < side) { s += u; d += id((row + 1) * side + col) }
    }
    shuffled(new Graph(side * side, s.result(), d.result(), Array.emptyIntArray), r)
  }

  /** G(n, m): m distinct directed edges without self-loops, drawn
    * uniformly, with costs uniform in 1..maxCost. */
  def gnm(n: Int, m: Int, maxCost: Int, seed: Long): Graph = {
    val r = rng(seed, 2)
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val s = new Array[Int](m); val d = new Array[Int](m); val c = new Array[Int](m)
    var i = 0
    while (i < m) {
      val u = r.nextInt(n); val v = r.nextInt(n)
      if (u != v && seen.add(u.toLong * n + v)) {
        s(i) = u; d(i) = v; c(i) = 1 + r.nextInt(maxCost)
        i += 1
      }
    }
    new Graph(n, s, d, c)
  }

  /** A rooted tree whose nodes at depth d all have fanout(d) children,
    * so every seed has the same shape; edges point parent → child with
    * seeded costs 1..maxCost, and node ids go through a seeded
    * permutation. Returns the graph and the node ids at each depth. */
  def tree(fanout: Seq[Int], maxCost: Int, seed: Long): (Graph, Array[Array[Int]]) = {
    val r = rng(seed, 3)
    val levels = mutable.ArrayBuffer(Array(0))
    val parent = mutable.ArrayBuilder.make[Int]
    val child = mutable.ArrayBuilder.make[Int]
    val cost = mutable.ArrayBuilder.make[Int]
    var next = 1
    for (k <- fanout) {
      val lvl = mutable.ArrayBuilder.make[Int]
      levels.last.foreach { p =>
        for (_ <- 0 until k) {
          parent += p; child += next; cost += 1 + r.nextInt(maxCost); lvl += next
          next += 1
        }
      }
      levels += lvl.result()
    }
    val id = permutation(next, r)
    val g = new Graph(next, parent.result().map(id), child.result().map(id), cost.result())
    (shuffled(g, r), levels.map(_.map(id)).toArray)
  }
}

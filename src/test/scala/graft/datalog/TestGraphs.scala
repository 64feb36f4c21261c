package graft.datalog

import scala.collection.mutable

/** Seeded graph generators and independent oracles for the specs that
  * run fixpoints at benchmark-graph scale. */
object TestGraphs {

  /** A random recursive forest: `trees` trees over `edges + trees`
    * nodes, one edge parent → child per non-root node, each non-root
    * node's parent drawn uniformly from the smaller ids. Every tree's
    * root is therefore its minimum id, so min-label propagation along
    * the edge direction labels each tree by its root. Edges come back
    * shuffled. */
  def forest(edges: Int, trees: Int, seed: Long): Seq[(Int, Int)] = {
    require(trees >= 1 && edges >= 0)
    val rnd = new scala.util.Random(seed)
    val n = edges + trees
    val roots = rnd.shuffle((1 until n).toVector).take(trees - 1).toSet + 0
    val out = (1 until n).filterNot(roots).map(i => (rnd.nextInt(i), i))
    rnd.shuffle(out)
  }

  /** G(n, m): `m` distinct directed edges between distinct nodes of
    * 0 until n, drawn uniformly. */
  def gnm(n: Int, m: Int, seed: Long): Seq[(Int, Int)] = {
    require(m.toLong <= n.toLong * (n - 1))
    val rnd = new scala.util.Random(seed)
    val seen = mutable.LinkedHashSet[(Int, Int)]()
    while (seen.size < m) {
      val u = rnd.nextInt(n)
      val v = rnd.nextInt(n)
      if (u != v) seen += ((u, v))
    }
    seen.toSeq
  }

  /** Union-find oracle: connected components of the undirected graph
    * the edges span (nodes that appear in no edge are not counted). */
  def components(edges: Seq[(Int, Int)]): Int = {
    val parent = mutable.Map[Int, Int]()
    def find(x: Int): Int = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    parent.keys.count(x => find(x) == x)
  }

  /** Writes the edges as `a,b` lines to a temp CSV deleted on exit. */
  def writeCsv(edges: Seq[(Int, Int)], prefix: String): String = {
    val f = java.nio.file.Files.createTempFile(prefix, ".csv")
    f.toFile.deleteOnExit()
    val w = java.nio.file.Files.newBufferedWriter(f)
    try edges.foreach { case (a, b) => w.write(s"$a,$b\n") }
    finally w.close()
    f.toString
  }
}

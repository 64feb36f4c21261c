package perfbench

/** Independent answers for every benchmark query, computed on the
  * driver from the generated graph with plain graph algorithms. None of
  * them shares code with the engine under test. */
object Oracles {

  /** Transitive closure as (a, b) pairs: one BFS per source. */
  def closure(g: Graph): Answer = {
    var total = Answer.empty
    val mark = new Array[Int](g.n)
    val queue = new Array[Int](g.n)
    var stamp = 0
    var a = 0
    while (a < g.n) {
      stamp += 1
      var head = 0; var tail = 0
      var rows = 0L; var h = 0L
      def visit(v: Int): Unit = if (mark(v) != stamp) {
        mark(v) = stamp; queue(tail) = v; tail += 1
        rows += 1; h += Answer.of2(a, v)
      }
      var e = g.off(a)
      while (e < g.off(a + 1)) { visit(g.dst(g.adj(e))); e += 1 }
      while (head < tail) {
        val u = queue(head); head += 1
        e = g.off(u)
        while (e < g.off(u + 1)) { visit(g.dst(g.adj(e))); e += 1 }
      }
      total += Answer(rows, h)
      a += 1
    }
    total
  }

  /** Connected components over the symmetric edges, as (node, smallest
    * node id in its component) for every node that touches an edge. */
  def components(g: Graph): Answer = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < g.m) {
      val a = find(g.src(i)); val b = find(g.dst(i))
      // the smaller id becomes the root, so a root is its component's minimum
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 1
    }
    val touched = new Array[Boolean](g.n)
    i = 0
    while (i < g.m) { touched(g.src(i)) = true; touched(g.dst(i)) = true; i += 1 }
    var rows = 0L; var h = 0L
    var v = 0
    while (v < g.n) {
      if (touched(v)) { rows += 1; h += Answer.of2(v, find(v)) }
      v += 1
    }
    Answer(rows, h)
  }

  /** Single-source shortest path lengths as (node, distance) for every
    * node reachable from `s`, `s` itself at 0: Dijkstra with a binary
    * heap of (distance, node) packed into longs. */
  def shortestPaths(g: Graph, s: Int): Answer = {
    val dist = Array.fill(g.n)(Long.MaxValue)
    val heap = new java.util.PriorityQueue[java.lang.Long]()
    dist(s) = 0
    heap.add(s.toLong)
    while (!heap.isEmpty) {
      val top: Long = heap.poll()
      val d = top >>> 32; val u = (top & 0xffffffffL).toInt
      if (d == dist(u)) {
        var e = g.off(u)
        while (e < g.off(u + 1)) {
          val k = g.adj(e)
          val nd = d + g.cost(k)
          val v = g.dst(k)
          if (nd < dist(v)) { dist(v) = nd; heap.add((nd << 32) | v) }
          e += 1
        }
      }
    }
    var rows = 0L; var h = 0L
    var v = 0
    while (v < g.n) {
      if (dist(v) != Long.MaxValue) { rows += 1; h += Answer.of2(v, dist(v)) }
      v += 1
    }
    Answer(rows, h)
  }

  /** Walk of the subtree below `k` in a tree whose edges point parent →
    * child: (k, b) per descendant b, and (k, b, path cost) per
    * descendant. */
  def subtree(g: Graph, k: Int): (Answer, Answer) = {
    var tc = Answer.empty; var mp = Answer.empty
    val stack = new java.util.ArrayDeque[Array[Long]]()
    stack.push(Array(k.toLong, 0L))
    while (!stack.isEmpty) {
      val Array(u, d) = stack.pop()
      var e = g.off(u.toInt)
      while (e < g.off(u.toInt + 1)) {
        val x = g.adj(e)
        val v = g.dst(x); val c = d + g.cost(x)
        tc += Answer(1, Answer.of2(k, v))
        mp += Answer(1, Answer.of3(k, v, c))
        stack.push(Array(v.toLong, c))
        e += 1
      }
    }
    (tc, mp)
  }
}

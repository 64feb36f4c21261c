package perfbench

import java.nio.file.{Files, Path}

/** Tests of the benchmark's own code: generators, oracles, and the
  * seed-independence of tc_grid's work. Throws on the first failure. */
object SelfTest {
  private var passed = 0

  private def check(what: String, cond: Boolean, detail: => String = ""): Unit = {
    if (!cond) throw new AssertionError(s"selftest failed: $what $detail")
    passed += 1
    System.err.println(s"selftest ok: $what")
  }

  private def graph(n: Int, edges: (Int, Int, Int)*): Graph =
    new Graph(n, edges.map(_._1).toArray, edges.map(_._2).toArray, edges.map(_._3).toArray)

  private def pairs(ps: (Long, Long)*): Answer =
    Answer(ps.length, ps.map { case (a, b) => Answer.of2(a, b) }.sum)

  private def triples(ps: (Long, Long, Long)*): Answer =
    Answer(ps.length, ps.map { case (a, b, c) => Answer.of3(a, b, c) }.sum)

  private def bytes(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path]).map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def oracles(): Unit = {
    check("row hash is order-sensitive within a row", Answer.of2(1, 2) != Answer.of2(2, 1))
    check("of2 equals rowHash", Answer.of2(7, 9) == Answer.rowHash(Array(7L, 9L)))

    val chain = graph(4, (0, 1, 0), (1, 2, 0), (3, 3, 0))
    check("closure of a chain and a self-loop", Oracles.closure(chain) ==
      pairs((0, 1), (0, 2), (1, 2), (3, 3)))
    val cyc = graph(3, (0, 1, 0), (1, 0, 0), (1, 2, 0))
    check("closure of a 2-cycle", Oracles.closure(cyc) ==
      pairs((0, 1), (0, 0), (0, 2), (1, 0), (1, 1), (1, 2)))
    check("closure size of a 2x2 grid", Oracles.closure(Graphs.grid(2, 1)).rows == 5)
    check("closure size of the 8x8 grid", Oracles.closure(Graphs.grid(8, 1)).rows == 1232)

    // node 5 touches no edge and has no component row
    val forest = graph(6, (1, 0, 0), (3, 2, 0), (3, 4, 0))
    check("components by smallest id", Oracles.components(forest) ==
      pairs((0, 0), (1, 0), (2, 2), (3, 2), (4, 2)))

    val w = graph(5, (0, 1, 5), (0, 2, 1), (2, 1, 1), (1, 3, 1), (4, 0, 1), (3, 0, 9))
    check("shortest paths", Oracles.shortestPaths(w, 0) ==
      pairs((0, 0), (1, 2), (2, 1), (3, 3)))

    val t = graph(5, (0, 1, 2), (0, 2, 3), (1, 3, 4), (4, 0, 1))
    check("subtree walk", Oracles.subtree(t, 0) ==
      ((pairs((0, 1), (0, 2), (0, 3)), triples((0, 1, 2), (0, 2, 3), (0, 3, 6)))))
    check("subtree of a leaf is empty", Oracles.subtree(t, 3) == ((Answer.empty, Answer.empty)))
  }

  def generators(work: Path): Unit = {
    val (tree, levels) = Graphs.tree(Workloads.BoundMix.fanout, 10, 7)
    check("tree has one level per depth", levels.length == 9)
    check("tree has 54,613 nodes", tree.n == 54613 && levels.map(_.length).sum == tree.n)
    check("tree has one edge per non-root node", tree.m == tree.n - 1)
    check("nodes at one depth have that depth's fan-out",
      levels.init.zip(Workloads.BoundMix.fanout).forall { case (lvl, k) =>
        lvl.forall(u => tree.off(u + 1) - tree.off(u) == k) })
    val g = Graphs.gnm(1000, 5000, 100, 3)
    check("gnm edges are distinct and loop-free",
      g.src.zip(g.dst).distinct.length == 5000 && g.src.zip(g.dst).forall(e => e._1 != e._2))
    check("gnm costs are in 1..100", g.cost.forall(c => c >= 1 && c <= 100))

    for (name <- Workloads.names) {
      val dirs = Seq("a", "b", "c").map(x => work.resolve(s"selftest-$name-$x"))
      dirs.foreach(Files.createDirectories(_))
      Workloads(name, 42).writeInputs(dirs(0))
      Workloads(name, 42).writeInputs(dirs(1))
      Workloads(name, 43).writeInputs(dirs(2))
      val Seq(x, y, z) = dirs.map(bytes)
      check(s"$name: the same seed writes byte-identical inputs", x == y)
      check(s"$name: another seed writes other inputs", x != z)
      check(s"$name: the same seed draws the same ops",
        Workloads(name, 42).ops == Workloads(name, 42).ops)
    }
  }

  /** tc_grid through the engine: two seeds, equal iterations and facts. */
  def gridWork(work: Path): Unit = {
    val spark = Main.newSession(work)
    try {
      spark.conf.set("spark.datalog.recursion.collectstats", "true")
      val seen = Seq(1L, 2L).map { seed =>
        val wl = new Workloads.TcGrid(seed)
        val dir = work.resolve(s"selftest-grid-$seed")
        Files.createDirectories(dir)
        wl.writeInputs(dir)
        val ctx = new graft.datalog.DatalogContext(spark)
        ctx.loadProgram(wl.decls)
        ctx.registerAndLoadTable("arc", dir.resolve("arc.csv").toString)
        val op = wl.ops.head
        ctx.loadProgram(op.program)
        val got = Answer.ofRows(ctx.query(op.query).collect())
        val iterations = ctx.iterationStats.length
        ctx.close()
        check(s"tc_grid seed $seed matches its oracle", got == op.expect, s"$got vs ${op.expect}")
        (iterations, got.rows)
      }
      check("tc_grid: two seeds give equal iteration and fact counts",
        seen.distinct.length == 1 && seen.head._2 == 1232, seen.toString)
    } finally spark.stop()
  }

  def run(work: Path): Unit = {
    Files.createDirectories(work)
    oracles()
    generators(work)
    gridWork(work)
    println(s"selftest: $passed checks passed")
  }
}

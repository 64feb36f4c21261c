package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.datalog.TestSpark

/** txt_span_dedup against an INDEPENDENT in-JVM brute-force oracle: the
  * DuckDB gate mirrors the engine's hash/islands formulation, so a
  * logic error shared by both would pass the gate — this oracle scans
  * raw token windows directly (no hashing, no SQL) and enumerates
  * maximal shared runs per (pair, diagonal). Seeded random docs with
  * planted spans cover the boundary cases: exactly-16-token spans kept,
  * 15-token spans dropped, two islands on one diagonal, multi-partner
  * docs. */
class SpanDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Maximal shared-span enumeration on raw tokens (width 13, min
    * span 16 tokens), the spec's ground truth. */
  private def brute(docs: Seq[(Long, Array[String])])
      : Set[(Long, Long, Long, Long, Long)] = {
    val W = 13
    val out = scala.collection.mutable.Set[(Long, Long, Long, Long, Long)]()
    for {
      (id1, t1) <- docs
      (id2, t2) <- docs
      if id1 < id2 && t1.length >= W && t2.length >= W
    } {
      val m1 = t1.length - W
      val m2 = t2.length - W
      for (diag <- -m2 to m1) {
        // positions p1 on this diagonal with matching 13-token windows
        val ps = (math.max(0, diag) to math.min(m1, m2 + diag)).filter { p1 =>
          val p2 = p1 - diag
          var k = 0
          var ok = true
          while (ok && k < W) { ok = t1(p1 + k) == t2(p2 + k); k += 1 }
          ok
        }
        // maximal consecutive runs
        var i = 0
        while (i < ps.length) {
          var j = i
          while (j + 1 < ps.length && ps(j + 1) == ps(j) + 1) j += 1
          val runLen = j - i + 1
          if (runLen + W - 1 >= 16)
            out += ((id1, id2, ps(i).toLong, (ps(i) - diag).toLong,
              (runLen + W - 1).toLong))
          i = j + 1
        }
      }
    }
    out.toSet
  }

  test("engine spans == brute-force token-window oracle on planted docs") {
    val rnd = new scala.util.Random(42)
    def tok() = s"w${rnd.nextInt(100000)}"
    def doc(n: Int) = Array.fill(n)(tok())
    // ≥ 60 tokens per doc so every plant (max end offset 42) fits
    val base = (0L until 12L).map(i => i -> doc(60 + rnd.nextInt(20))).toMap
    val docs = scala.collection.mutable.Map(base.toSeq: _*)
    def plant(src: Long, dst: Long, atSrc: Int, atDst: Int, len: Int): Unit = {
      val s = docs(src); val d = docs(dst)
      System.arraycopy(s, atSrc, d, atDst, len)
    }
    plant(0L, 1L, 3, 10, 20) // a 20-token shared span
    plant(0L, 2L, 3, 0, 16) // exactly 16 tokens — the inclusive boundary
    plant(0L, 3L, 3, 5, 15) // 15 tokens — must NOT appear
    // two islands on one diagonal: spans at the same offset delta with a
    // gap between them
    plant(4L, 5L, 0, 0, 18)
    plant(4L, 5L, 25, 25, 17)
    // one doc sharing spans with two partners
    plant(6L, 7L, 2, 2, 22)
    plant(6L, 8L, 2, 12, 19)
    val rows = docs.toSeq.map { case (id, t) => (id, t.mkString(" ")) }
    import spark.implicits._
    val df = rows.toDF("doc_id", "text")
    val got = TextQueries.spanDedup(df, maxDf = 1000000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val want = brute(docs.toSeq.map { case (k, v) => (k, v) })
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // the planted cases actually materialized
    assert(want.exists { case (a, b, _, _, n) => a == 0L && b == 2L && n == 16L },
      "16-token boundary span missing from the oracle itself")
    assert(!want.exists { case (a, b, _, _, _) => a == 0L && b == 3L },
      "15-token span must be below threshold")
    assert(want.count { case (a, b, _, _, _) => a == 4L && b == 5L } >= 2,
      "two islands on one diagonal expected")
  }

  test("the checkpointed posting is tracked and released with the pack") {
    val rnd = new scala.util.Random(7)
    val shared = Array.fill(20)(s"w${rnd.nextInt(100000)}")
    val docs = (0L until 4L).map { i =>
      val t = Array.fill(40)(s"w${rnd.nextInt(100000)}")
      System.arraycopy(shared, 0, t, 5, shared.length)
      i -> t.mkString(" ")
    }
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val key = "spark.graft.span.ckpt"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    val snap = PackResources.snapshot()
    try {
      val got = TextQueries.spanDedup(df, maxDf = 1000000).collect()
      assert(got.length == 6, s"one 20-token span per doc pair, got ${got.length}")
      val fresh = PackResources.snapshot().rdds -- snap.rdds
      assert(fresh.size == 1, s"expected the posting checkpoint tracked, got $fresh")
      PackResources.releaseNewSince(snap)
      assert(fresh.forall(r => !spark.sparkContext.getPersistentRDDs.contains(r.id)),
        "releaseNewSince left the posting checkpoint persisted")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

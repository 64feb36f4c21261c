package perfbench

/** An answer as the benchmark compares it: row count plus an
  * order-independent hash (the wrapping sum of one mixed hash per row).
  * Row order never matters; column order does. */
final case class Answer(rows: Long, hash: Long) {
  def +(o: Answer): Answer = Answer(rows + o.rows, hash + o.hash)
  override def toString: String = f"$rows rows, hash $hash%016x"
}

object Answer {
  val empty: Answer = Answer(0L, 0L)

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rowHash(vals: Array[Long]): Long = {
    var h = 0x5bd1e995L
    var i = 0
    while (i < vals.length) { h = mix(h ^ vals(i)); i += 1 }
    h
  }

  def of2(a: Long, b: Long): Long = mix(mix(0x5bd1e995L ^ a) ^ b)
  def of3(a: Long, b: Long, c: Long): Long = mix(of2(a, b) ^ c)

  /** Count and hash of collected Spark rows; every column must be an
    * integral number. */
  def ofRows(rows: Array[org.apache.spark.sql.Row]): Answer = {
    var h = 0L
    rows.foreach { r =>
      val vals = new Array[Long](r.length)
      var i = 0
      while (i < vals.length) {
        vals(i) = r.get(i) match {
          case n: java.lang.Number => n.longValue
          case other => throw new IllegalStateException(
            s"non-integral answer column $i: $other")
        }
        i += 1
      }
      h += rowHash(vals)
    }
    Answer(rows.length.toLong, h)
  }
}

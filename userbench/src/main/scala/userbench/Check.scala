package userbench

import org.apache.spark.sql.Row

/** Result comparison against the plain-Scala reference. Cells are
  * normalised (timestamps to epoch ms, integers to Long); doubles match
  * within a relative 1e-9, because the engine sums in another order. */
object Check {
  type Tuple = Vector[Any]

  def cell(v: Any): Any = v match {
    case i: java.time.Instant => i.toEpochMilli
    case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case t: java.sql.Timestamp => t.getTime
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Long => n.longValue
    case d: java.lang.Double => d.doubleValue
    case other => other
  }

  /** The named columns of each row, in the given order. */
  def project(rows: Array[Row], cols: Seq[String]): Vector[Tuple] =
    if (rows.isEmpty) Vector.empty
    else {
      val idx = cols.map(c => rows(0).schema.fieldIndex(c))
      rows.iterator.map(r => idx.iterator.map(i => cell(r.get(i))).toVector).toVector
    }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def cellEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => close(x, y)
    case _ => a == b
  }

  private def key(t: Tuple): String = t.map {
    case d: Double => f"$d%.6f"
    case null => "\u0000"
    case o => o.toString
  }.mkString("\u0001")

  /** None when `got` equals `want` (as multisets unless `ordered`),
    * else a short description of the first difference. */
  def diff(got: Seq[Tuple], want: Seq[Tuple], ordered: Boolean): Option[String] = {
    val (g, w) =
      if (ordered) (got, want) else (got.sortBy(key), want.sortBy(key))
    if (g.size != w.size) return Some(s"${g.size} rows, expected ${w.size}")
    g.iterator.zip(w.iterator).zipWithIndex.collectFirst {
      case ((a, b), i) if a.size != b.size || !a.iterator.zip(b.iterator).forall {
          case (x, y) => cellEq(x, y) } =>
        s"row $i: got ${a.mkString("(", ", ", ")")}, expected ${b.mkString("(", ", ", ")")}"
    }
  }
}

package perfbench

import org.apache.spark.sql.Row

/** Engine-independent form of a query result, so Spark's rows and the
  * DuckDB oracle's rows compare exactly. Columns are ordered by name;
  * every number that is whole prints as an integer and every other number
  * as its double, so BIGINT/DOUBLE/DECIMAL renderings of one value agree;
  * timestamps and dates print as epoch microseconds. Results compare as
  * multisets of rows, so row order never matters. */
object Canon {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "'" + s
    case b: Boolean => b.toString
    case d: java.lang.Double => num(BigDecimalOf(d.doubleValue))
    case f: java.lang.Float => num(BigDecimalOf(f.doubleValue))
    case d: java.math.BigDecimal => num(Some(BigDecimal(d)))
    case d: BigDecimal => num(Some(d))
    case i: BigInt => i.toString
    case n: java.math.BigInteger => n.toString
    case n: java.lang.Number => n.longValue.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => (d.toLocalDate.toEpochDay * DayMicros).toString
    case d: java.time.LocalDate => (d.toEpochDay * DayMicros).toString
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private val DayMicros = 86400L * 1000000L

  private def BigDecimalOf(d: Double): Option[BigDecimal] =
    if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))

  private def num(d: Option[BigDecimal]): String = d match {
    case None => "nan"
    case Some(x) if x.isWhole => x.toBigInt.toString
    case Some(x) => java.lang.Double.toString(x.toDouble)
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000

  /** One row, its fields ordered by column name. */
  def row(r: Row): String =
    if (r.schema == null) r.toSeq.map(value).mkString("(", "|", ")")
    else r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (_, i) => value(r.get(i)) }.mkString("(", "|", ")")

  def rows(rs: Seq[Row]): Seq[String] = rs.map(row)

  /** Throws with the first differing rows unless `got` and `want` hold
    * the same rows (as multisets). */
  def expectSame(got: Seq[String], want: Seq[String], what: String): Unit =
    if (got.sorted != want.sorted) {
      val (g, w) = (got.diff(want), want.diff(got))
      throw new AssertionError(s"$what: ${got.size} rows vs ${want.size} expected; " +
        s"unexpected ${g.sorted.take(3).mkString(" ")}; missing ${w.sorted.take(3).mkString(" ")}")
    }
}

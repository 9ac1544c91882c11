package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive canonical form of a result, for comparing the engine
  * path against the raw-parquet path: columns sorted by name (as the
  * repository's oracle check does), each row rendered to a string, and the
  * rows sorted, so two results are equal iff they hold the same multiset of
  * rows. Floating-point values are rendered to twelve significant digits,
  * so a different summation order does not read as a different answer. */
object Canon {

  def of(df: DataFrame): Seq[String] = {
    val names = df.columns.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    df.collect().toSeq.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case a: Array[_] => a.toSeq.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros.toString

  /** A short description of how two canonical results differ, or None. */
  def diff(expected: Seq[String], got: Seq[String]): Option[String] =
    if (expected == got) None
    else {
      val missing = expected.diff(got)
      val extra = got.diff(expected)
      Some(s"${expected.size} expected rows, ${got.size} got; " +
        s"${missing.size} missing (first: ${missing.headOption.getOrElse("-")}), " +
        s"${extra.size} unexpected (first: ${extra.headOption.getOrElse("-")})")
    }
}

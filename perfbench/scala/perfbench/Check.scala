package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Result checking. Both sides are reduced to one canonical form and
  * compared as multisets of rows:
  *   - columns are matched by name (the catalog's oracle contract), so
  *     column order does not matter;
  *   - rows are sorted on both sides, so row order does not matter;
  *   - numbers of every type compare as doubles, within rtol = atol = 1e-9
  *     (the float-drift tolerance of the repo's oracle replay);
  *   - dates compare as epoch days and timestamps as epoch microseconds.
  */
object Check {

  final class Mismatch(msg: String) extends RuntimeException(msg)

  /** A canonical cell: null, Boolean, Double, String or Seq[Any]. */
  def canon(v: Any): Any = v match {
    case null => null
    case b: Boolean => b
    case n: java.math.BigDecimal => n.doubleValue
    case n: scala.math.BigDecimal => n.toDouble
    case n: Number => n.doubleValue
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toDouble
    case d: java.time.LocalDate => d.toEpochDay.toDouble
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toDouble
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toDouble
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toDouble
    case s: String => s
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(canon(k), canon(x)) }.sorted(CellOrdering)
    case s: scala.collection.Seq[_] => s.toSeq.map(canon)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def fromJson(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isBoolean) n.booleanValue
    else if (n.isNumber) n.doubleValue
    else if (n.isTextual) n.textValue
    else n.elements().asScala.map(fromJson).toSeq

  /** Total order on canonical cells (null first, then by type). */
  private object CellOrdering extends Ordering[Any] {
    private def rank(v: Any): Int = v match {
      case null => 0
      case _: Boolean => 1
      case _: Double => 2
      case _: String => 3
      case _ => 4
    }
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      case (x: Seq[_], y: Seq[_]) =>
        val c = x.iterator.zip(y.iterator).map { case (p, q) => compare(p, q) }.find(_ != 0)
        c.getOrElse(Integer.compare(x.size, y.size))
      case _ => Integer.compare(rank(a), rank(b))
    }
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 + 1e-9 * math.max(math.abs(a), math.abs(b))

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => close(x, y)
    case (x: Seq[_], y: Seq[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x, y) => x == y
  }

  /** Expected result as written by the generator side:
    * {"columns": [...], "rows": [[...], ...]}.
    */
  final case class Expected(columns: Seq[String], rows: Seq[Seq[Any]])

  def readExpected(path: String): Expected = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    Expected(
      root.get("columns").elements().asScala.map(_.textValue).toSeq,
      root.get("rows").elements().asScala.map(r => r.elements().asScala.map(fromJson).toVector).toVector)
  }

  /** Returns the row count; throws [[Mismatch]] naming the first difference. */
  def compare(columns: Seq[String], rows: Seq[Row], want: Expected): Int = {
    if (columns.sorted != want.columns.sorted)
      throw new Mismatch(s"columns differ: got ${columns.sorted} want ${want.columns.sorted}")
    if (rows.size != want.rows.size)
      throw new Mismatch(s"row count differs: got ${rows.size} want ${want.rows.size}")
    val order = columns.sorted
    def perm(cols: Seq[String]): Array[Int] = order.map(c => cols.indexOf(c)).toArray
    val (pg, pw) = (perm(columns), perm(want.columns))
    def byName(p: Array[Int], r: Seq[Any]): Seq[Any] = p.toSeq.map(r)
    val got = rows.map(r => byName(pg, r.toSeq.map(canon))).sorted(CellOrdering)
    val exp = want.rows.map(r => byName(pw, r.toIndexedSeq)).sorted(CellOrdering)
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      if (!same(g, e)) {
        val c = order.indices.find(j => !same(g(j), e(j))).map(order).getOrElse("?")
        throw new Mismatch(s"row $i column '$c' differs: got ${g.mkString(", ")} want ${e.mkString(", ")}")
      }
    }
    rows.size
  }
}

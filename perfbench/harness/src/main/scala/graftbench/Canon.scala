package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent result hash, computed identically by `oracle.py`
  * over DuckDB rows. It follows tools/compare_oracle.py's normalization
  * (columns sorted by name, rows as a multiset, NULL and NaN as tokens,
  * booleans as 0/1) and encodes doubles by their exact bits, which is
  * what that tool's full-precision `repr` comparison amounts to. */
object Canon {

  private val hex = java.util.HexFormat.of()

  def sha256(s: String): String =
    hex.formatHex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: java.math.BigDecimal => "d" + x.stripTrailingZeros.toString
    case x: scala.math.BigDecimal => "d" + x.bigDecimal.stripTrailingZeros.toString
    case x: String => "s" + x
    case x: java.sql.Timestamp =>
      "t" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.sql.Date => "D" + x.toString
    case x: java.time.LocalDate => "D" + x.toString
    case x: Array[Byte] => "x" + hex.formatHex(x)
    case x: Row => x.toSeq.map(cell).mkString("{", ",", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => cell(k) + "=" + cell(w) }.sorted.mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(cell).mkString("[", ",", "]")
    case x => "?" + x.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "fNaN" else "f" + java.lang.Double.doubleToRawLongBits(d)

  /** Hash of a result: sorted column names, then the sorted per-row
    * digests (row cells in column-name order). */
  def hash(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val digests = rows.iterator.map { r =>
      sha256(order.map(i => cell(r.get(i))).mkString("\u0001"))
    }.toVector.sorted
    sha256(order.map(columns(_)).mkString(",") + "\n" + digests.mkString("\n"))
  }
}

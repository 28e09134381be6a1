package layerbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive result hash, the twin of `result_hash` in gen.py: the
  * DuckDB oracle result and every Spark execution of the same query hash
  * to the same string exactly when local_check.py would call them equal
  * (numbers compared as doubles, -0.0 == 0.0, timestamps as UTC µs). */
object Check {

  private def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "B1" else "B0"
    case s: String => "S" + s
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant =>
      "T" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      cell(l.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toString
    case d: java.time.LocalDate => "D" + d.toString
    case r: Row => r.toSeq.map(cell).mkString("R{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("M{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("L[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("L[", ",", "]")
    case n: java.math.BigDecimal => num(n.doubleValue)
    case n: scala.math.BigDecimal => num(n.toDouble)
    case n: java.lang.Number => num(n.doubleValue)
    case other => "S" + other.toString
  }

  private def num(x: Double): String =
    if (x.isNaN) "NaN"
    else "F" + java.lang.Double.doubleToRawLongBits(if (x == 0.0) 0.0 else x)

  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.indices.sortBy(i => schema.fieldNames(i).toLowerCase)
    val md = MessageDigest.getInstance("SHA-256")
    var acc = 0L
    rows.foreach { r =>
      val line = order.map(i => cell(r.get(i))).mkString("\u001f")
      val d = md.digest(line.getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    val head = order.map(i => schema.fieldNames(i).toLowerCase).mkString(",")
    s"$head|${rows.length}|${java.lang.Long.toUnsignedString(acc, 16)}"
  }
}

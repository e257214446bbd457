package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-sensitive result fingerprint: SHA-256 over a canonical text
  * rendering of every row in result order. The rendering does not depend
  * on the JVM's default time zone or locale: timestamps render as epoch
  * microseconds, dates as epoch days, maps with their entries sorted.
  */
object Fingerprint {

  def render(v: Any): String = v match {
    case null => "∅"
    case t: java.sql.Timestamp =>
      "ts" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant =>
      "ts" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.LocalDateTime =>
      "ts" + render(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Hex SHA-256 of the rows in order. */
  def of(rows: Iterator[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(render(r).getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

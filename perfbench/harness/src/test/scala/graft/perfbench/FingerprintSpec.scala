package graft.perfbench

import java.util.TimeZone

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {

  private val rows = Seq(
    Row(1L, "a", 0.1 + 0.2, new java.sql.Timestamp(1704067200123L), Map("x" -> 1, "y" -> 2)),
    Row(2L, null, Double.NaN, java.sql.Date.valueOf("2024-01-02"), Seq(1.5f, 2.5f)))

  test("equal rows give equal fingerprints") {
    assert(Fingerprint.of(rows.iterator) === Fingerprint.of(rows.map(r => Row(r.toSeq: _*)).iterator))
  }

  test("the fingerprint is order-sensitive") {
    assert(Fingerprint.of(rows.iterator) !== Fingerprint.of(rows.reverse.iterator))
  }

  test("the fingerprint does not depend on the JVM's default time zone") {
    val prior = TimeZone.getDefault
    try {
      TimeZone.setDefault(TimeZone.getTimeZone("UTC"))
      val utc = Fingerprint.of(rows.iterator)
      TimeZone.setDefault(TimeZone.getTimeZone("Asia/Kolkata"))
      assert(Fingerprint.of(rows.iterator) === utc)
    } finally TimeZone.setDefault(prior)
  }

  test("map entry order does not change the fingerprint; values do") {
    val a = Row(Map("x" -> 1, "y" -> 2))
    val b = Row(scala.collection.immutable.ListMap("y" -> 2, "x" -> 1))
    assert(Fingerprint.of(Iterator(a)) === Fingerprint.of(Iterator(b)))
    assert(Fingerprint.of(Iterator(a)) !== Fingerprint.of(Iterator(Row(Map("x" -> 1, "y" -> 3)))))
  }
}

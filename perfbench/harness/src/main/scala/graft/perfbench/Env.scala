package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** Table warm-up and the per-run environment probes. */
object Env {

  /** One scan per table, so no timed call pays first-touch costs. */
  def warmTables(spark: SparkSession, dataDir: String): Unit =
    graft.tables.Tables.names.foreach(t =>
      graft.tables.Tables.read(spark, dataDir, t).count())

  /** `graft.Bench`'s fixed-work single-thread CPU probe (same mix chain and
    * iteration count, so the readings compare with the bench's calibCpu).
    */
  def calibCpu(): Double = {
    def pass(n: Int): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < n) {
        x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
        x ^= x >>> 27; x *= 0x94D049BB133111EBL
        x ^= x >>> 31
        i += 1
      }
      x
    }
    val warm = pass(2000000)
    val t0 = System.nanoTime()
    val sink = pass(200000000)
    val dt = (System.nanoTime() - t0) / 1e9
    if ((sink ^ warm) == 42L) System.err.print("")
    dt
  }

  /** `graft.Bench`'s IO probe: one full-column aggregate over lineitem. */
  def calibIo(spark: SparkSession, dataDir: String): Double = {
    val t0 = System.nanoTime()
    spark.read.parquet(s"$dataDir/lineitem.parquet")
      .agg(sum(col("l_extendedprice"))).head()
    (System.nanoTime() - t0) / 1e9
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.jsonNum`'s rendering contract. The trailing-zero trim exists
  * to keep the bench JSON line inside the driver's bounded tail capture,
  * but it must apply ONLY to the fractional part: the earlier
  * unconditional trim turned cpuSec 1180 into "118" in a committed
  * board of record (every `places=0` value ending in 0 was exposed —
  * 100 rendered as "1"). Pure JVM string logic, no SparkSession needed.
  */
class BenchFmtSpec extends AnyFunSuite {

  test("places=0 integer renderings pass through untouched") {
    assert(Bench.jsonNum(1180.4, 0) === "1180")
    assert(Bench.jsonNum(100.0, 0) === "100")
    assert(Bench.jsonNum(1000.0, 0) === "1000")
    assert(Bench.jsonNum(0.0, 0) === "0")
    assert(Bench.jsonNum(-1.0, 0) === "-1")
  }

  test("fractional trailing zeros trim, keeping at least one digit") {
    assert(Bench.jsonNum(0.5, 2) === "0.5")
    assert(Bench.jsonNum(10.0, 2) === "10.0")
    assert(Bench.jsonNum(176.79, 3) === "176.79")
    assert(Bench.jsonNum(1.23, 2) === "1.23")
    assert(Bench.jsonNum(8.0, 1) === "8.0")
  }

  test("Locale-independent dot decimal separator") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Bench.jsonNum(1.5, 2) === "1.5")
    } finally java.util.Locale.setDefault(prev)
  }

  /** r16 verdict #4: a lower-core rerun must not overwrite a
    * higher-core BENCH_SPREAD board of record. The guard reads the
    * standing file's stamped `"cpus"` in its env header, and diverts to
    * a file beside the standing one.
    */
  test("spread path diverts a lower-core rerun, keeps higher/equal") {
    val dir = java.nio.file.Files.createTempDirectory("spreadguard")
    val standing = dir.resolve("BENCH_SPREAD.json").toString
    def write(body: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(standing), body)
    // no standing file: keep the standing name
    assert(Bench.spreadDefaultPath(8, standing) === standing)
    // standing 32-core board: an 8-core rerun diverts (beside the
    // standing file, not into the working directory), a 32-core rerun
    // and a 64-core rerun keep refreshing the standing name
    write("""{"registry":261,"env":{"heapGB":8.0,"opens":"ok","cpus":32,"gcSec":1.0},"spread":{}}""")
    assert(Bench.spreadDefaultPath(8, standing) ===
      dir.resolve("BENCH_SPREAD_c8.json").toString)
    assert(Bench.spreadDefaultPath(32, standing) === standing)
    assert(Bench.spreadDefaultPath(64, standing) === standing)
    // legacy file without a cpus stamp: overwritable (no basis to guard)
    write("""{"registry":261,"env":{"heapGB":8.0},"spread":{}}""")
    assert(Bench.spreadDefaultPath(8, standing) === standing)
    // a "cpus" field outside the env header is not the stamp
    write("""{"registry":261,"env":{"heapGB":8.0},"spread":{"q_x":{"cpus":32,"min":1.0}}}""")
    assert(Bench.spreadDefaultPath(8, standing) === standing)
    // unparseable stamp (overflows Int): treated as legacy
    write("""{"registry":261,"env":{"cpus":99999999999},"spread":{}}""")
    assert(Bench.spreadDefaultPath(8, standing) === standing)
    // unreadable standing path (a directory): treated as legacy
    java.nio.file.Files.delete(java.nio.file.Paths.get(standing))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(standing))
    assert(Bench.spreadDefaultPath(8, standing) === standing)
  }
}

package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run's shared state: settings, the failure ledger, the
  * tracer, and the optional job-tag counters. `workDir` is emptied before
  * every run; `keepDir` persists across runs (answers, traces).
  */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, dataRoot: String, val workDir: String,
    val keepDir: String) {

  /** The board's tables, and the catalog the `live` workload serves. */
  val dataDir = s"$dataRoot/${Board.Scale}"
  val catalogDir = s"$dataRoot/catalog"

  val tracer = new Tracer(traced)
  /** Spark counters exist only in the traced run; untraced runs add no
    * listener and no job tags.
    */
  val counters: Option[SparkCounters] = if (traced) Some(new SparkCounters) else None

  private var attemptedN = 0L
  private var failedN = 0L
  def attempted: Long = attemptedN
  def failed: Long = failedN

  /** Runs one operation. An exception or a failed answer check counts it
    * as failed, is named on stderr, and yields None, so no timing is
    * recorded for it.
    */
  def attempt[T](label: String)(body: => T): Option[T] = {
    attemptedN += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failedN += 1
        System.err.println(s"[perfbench] FAILED $label: $e")
        None
    }
  }

  /** Records a failed answer check on an operation already attempted. */
  def wrong(label: String, why: String): Unit = {
    failedN += 1
    System.err.println(s"[perfbench] WRONG $label: $why")
  }

  def check(label: String, ok: Boolean, why: => String): Unit =
    if (!ok) wrong(label, why)

  /** Tags the calling thread's Spark jobs with `tag` in traced runs. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T =
    if (traced) SparkCounters.tagged(spark, tag)(body) else body

  def openSession(): SparkSession = {
    val spark = graft.Bench.openSession()
    counters.foreach(spark.sparkContext.addSparkListener(_))
    spark
  }

  /** Opens the run's session and runs the workload's setup in it: the
    * set-up time a user pays to start the service, from a fresh JVM, up to
    * the first timed operation. Returns the session, the setup's state and
    * its seconds.
    *
    * One setup per run: setup_s is a cold start, and cold starts read
    * steadily across runs (interquartile spread over ten seeds: board
    * 6.5%, live 8.6%), while a second and third setup per run would not
    * fit the run budget.
    */
  def setUp[S](setup: SparkSession => S): (SparkSession, S, Double) = {
    val t0 = System.nanoTime()
    val spark = openSession()
    val s = setup(spark)
    val secs = Env.secondsSince(t0)
    System.err.println(f"[perfbench] setup: $secs%.2f s")
    (spark, s, secs)
  }
}

object Run {

  /** Whether a timed loop of whole units (rounds, cycles) runs one more:
    * it runs the whole number of units whose total time comes nearest
    * `seconds`, at least one. Stopping at the nearest count, rather than at
    * the first past `seconds`, keeps the count steady when a unit takes
    * about `seconds` divided by a whole number.
    */
  def another(elapsed: Double, done: Int, seconds: Double): Boolean =
    done == 0 || elapsed + elapsed / done / 2 < seconds
}

/** A metric as reported: value, unit, and the sample count behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Long = 1)

/** What a workload hands back: the end-to-end metrics of the result line,
  * the workload's own named metrics, and (traced runs) per-layer numbers.
  */
final case class Outcome(e2e: Seq[Metric], detail: Seq[Metric],
    layers: Seq[Metric])

package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.queries.{Aggregates, Analytics, GraphQueries, LlmQueries,
  MLQueries, RecQueries, Registry, Relational, Scalars, ScaleQueries,
  StreamingQueries, Warehouse, Windows}

/** The `board` workload: registry queries one at a time, each built,
  * planned and fully materialized — the cost of what a caller receives.
  */
object Board {

  /** Every registry family with its query names, in registry order. */
  val families: Seq[(String, Seq[String])] = Seq(
    "Relational" -> Relational.entries, "Aggregates" -> Aggregates.entries,
    "Stats" -> graft.queries.Stats.entries, "Windows" -> Windows.entries,
    "Scalars" -> Scalars.entries, "MLQueries" -> MLQueries.entries,
    "LlmQueries" -> LlmQueries.entries, "ScaleQueries" -> ScaleQueries.entries,
    "StreamingQueries" -> StreamingQueries.entries,
    "RecQueries" -> RecQueries.entries, "Warehouse" -> Warehouse.entries,
    "GraphQueries" -> GraphQueries.entries, "Analytics" -> Analytics.entries,
  ).map { case (f, es) => f -> es.map(_.name) }

  /** Queries drawn from each family. The cohort seed is fixed — not the
    * run's seed — so every run times the same queries and the expected
    * answers cover them; the run's seed orders each round.
    */
  val PerFamily = 1

  /** The fixture scale the board runs at (a directory of the data root). */
  val Scale = "sf0.001"
  val CohortSeed = 20121L

  def cohort: Seq[String] = Draw.cohort(families, PerFamily, CohortSeed).map(_._2)

  /** Builds, plans and materializes `name` once, each step in its own span. */
  def runOnce(spark: SparkSession, data: String, name: String, tr: Tracer): Unit = {
    val q = Registry.queries(name)
    val df = tr.span("queries.build", name)(q(spark, data))
    tr.span("queries.plan", name)(df.queryExecution.executedPlan)
    tr.span("exec.materialize", name)(
      df.write.format("noop").mode("overwrite").save())
  }

  /** `Ck.drain` + `Ck.sweep` after a query; returns RDDs swept (leaks). */
  def cleanUp(spark: SparkSession, name: String, tr: Tracer): Int =
    tr.span("ops.ck_drain", name) {
      graft.ops.Ck.drain(spark)
      graft.ops.Ck.sweep(spark)
    }

  /** (rows, fingerprint, seconds in the Registry call) of a query's full
    * result in order.
    */
  def answer(spark: SparkSession, data: String, name: String): (Long, String, Double) = {
    val t0 = System.nanoTime()
    val df = Registry.queries(name)(spark, data)
    val buildS = Env.secondsSince(t0)
    val rows = df.collect()
    (rows.length.toLong, Fingerprint.of(rows.iterator), buildS)
  }

  /** The staged builds, labelled as `graft.Bench` labels them. Bench prints
    * each build's cost (or failure) as a `staged-build:` line on stderr;
    * those lines are captured here, so the list stays Bench's own.
    */
  def stagedBuilds(spark: SparkSession, data: String): Seq[(String, Option[Double])] = {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    val tee = new java.io.PrintStream(new java.io.OutputStream {
      def write(b: Int): Unit = { buf.write(b); err.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        buf.write(b, off, len); err.write(b, off, len)
      }
    }, true)
    System.setErr(tee)
    try graft.Bench.runStagedBuilds(spark, data)
    finally { System.setErr(err); tee.flush() }
    val Line = """\[bench\] staged-build: (\S+) (.*)""".r
    buf.toString("UTF-8").linesIterator.collect {
      case Line(label, rest) =>
        label -> rest.stripSuffix(" s").trim.toDoubleOption
    }.toSeq
  }

  /** Writes the expected answer of every registry query, with each
    * result's parquet dump for the DuckDB cross-check.
    */
  def generate(spark: SparkSession, data: String, expectedPath: String,
      dumpDir: String): Unit = {
    val oracle = Registry.oracleSql
    val entries = families.flatMap { case (family, names) =>
      names.map { name =>
        val t0 = System.nanoTime()
        val (rows, fp, _) = answer(spark, data, name)
        val dt = Env.secondsSince(t0)
        Registry.queries(name)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dumpDir/$name")
        cleanUp(spark, name, Untraced)
        System.err.println(f"[perfbench] expected $name%s rows=$rows%d $dt%.3f s")
        val check = if (oracle.contains(name)) "fingerprint" else "rows"
        s"""  "$name": {"family": "$family", "check": "$check", "rows": $rows, "fingerprint": "$fp"}"""
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(expectedPath),
      entries.mkString("{\n", ",\n", "\n}\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dumpDir/oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
  }

  final case class Expected(check: String, rows: Long, fingerprint: String)

  /** Reads the expected-answer file ([[generate]]'s format, one entry a
    * line; the oracle cross-check may add fields).
    */
  def readExpected(path: String): Map[String, Expected] = {
    val Entry = """\s*"(\w+)": \{(.*)\},?""".r
    def field(body: String, key: String): String =
      s""""$key": "?(\\w+)"?""".r.findFirstMatchIn(body).map(_.group(1))
        .getOrElse(sys.error(s"expected entry without $key: $body"))
    scala.io.Source.fromFile(path, "UTF-8").getLines().collect {
      case Entry(name, body) => name -> Expected(field(body, "check"),
        field(body, "rows").toLong, field(body, "fingerprint"))
    }.toMap
  }

  /** Setup: table warm-up, then the untimed answer pass. Each cohort
    * query's rows and fingerprint are checked against the expected file;
    * its Registry call builds every staged store it reads (a staged family
    * builds on its first query), and this is its first execution. Returns
    * the seconds spent in the Registry calls.
    */
  def setup(run: Run, spark: SparkSession, expected: Map[String, Expected]): Double = {
    Env.warmTables(spark, run.dataDir)
    var buildS = 0.0
    cohort.foreach { name =>
      val want = expected(name)
      run.attempt(s"answer $name")(answer(spark, run.dataDir, name))
        .foreach { case (rows, fp, b) =>
          buildS += b
          if (rows != want.rows) run.wrong(name, s"$rows rows, want ${want.rows}")
          else if (want.check == "fingerprint" && fp != want.fingerprint)
            run.wrong(name, s"fingerprint $fp, want ${want.fingerprint}")
        }
      cleanUp(spark, name, Untraced)
    }
    buildS
  }

  private val Untraced = new Tracer(false)

  def apply(run: Run, expectedPath: String): Outcome = {
    val expected = readExpected(expectedPath)
    val (spark, stagedS, setupS) = run.setUp(setup(run, _, expected))
    run.counters.foreach(_.reset(spark))
    val times = mutable.LinkedHashMap(cohort.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val roundSecs = Seq(mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    var swept = 0
    var executions = 0
    val cpu0 = graft.ops.JvmEnv.processCpuNanos
    val t0 = System.nanoTime()
    var round = 0
    // whole rounds only, so every query has the same number of samples; a
    // traced run needs an untraced and a traced round
    while (Run.another(Env.secondsSince(t0), round, run.seconds) ||
        (run.traced && round < 2)) {
      // a traced run alternates traced and untraced rounds: the difference
      // in their round times is the tracing overhead
      run.tracer.on = run.traced && round % 2 == 1
      val r0 = System.nanoTime()
      new Random(run.seed * 1000003L + round).shuffle(cohort).foreach { name =>
        val q0 = System.nanoTime()
        run.attempt(s"query $name")(run.tagged(spark, s"q.$name")(
          runOnce(spark, run.dataDir, name, run.tracer)))
          .foreach(_ => times(name) += Env.secondsSince(q0))
        executions += 1
        swept += cleanUp(spark, name, run.tracer)
      }
      roundSecs(round % 2) += Env.secondsSince(r0)
      round += 1
    }
    run.tracer.on = run.traced
    val cpuS = (graft.ops.JvmEnv.processCpuNanos - cpu0) / 1e9
    val medians = times.values.filter(_.nonEmpty).map(t => Quantiles.median(t.toSeq)).toSeq
    val boardS = medians.sum
    val sum = Quantiles.summarize(medians.map(_ * 1000))
    val (pinBlocks, pinBytes) = graft.ops.Ck.pinnedReport(spark)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("p50_ms", sum.p50, "ms", sum.n),
      Metric("rate_per_s", medians.size / boardS, "1/s", medians.size))
    val detail = Seq(
      Metric("board_s", boardS, "s", round),
      Metric("board_query_p50_s", sum.p50 / 1000, "s", sum.n),
      Metric("board_query_p90_s", Quantiles.percentile(medians, 90), "s", sum.n),
      Metric("pinned_mb", pinBytes / 1048576.0, "MB", pinBlocks),
      Metric("ops.ck_swept", swept, "count", executions),
      Metric("cpu_s", cpuS, "s"),
      Metric("cpu_ms_per_op", cpuS * 1000 / math.max(1, executions), "ms", executions))
    val layers = if (!run.traced) Nil else
      Layers.spark(run, spark, executions) ++ Layers.spans(run, t0) ++ Seq(
        Metric("ops.ck_swept", swept, "count", executions),
        Metric("ops.pinned_blocks", pinBlocks, "count"),
        Metric("sources.staged_build_s", stagedS, "s"),
        Metric("trace.overhead_s", Quantiles.median(roundSecs(1).toSeq) -
          Quantiles.median(roundSecs(0).toSeq), "s", roundSecs(1).size)) ++
        Layers.zeros(Layers.LiveOnly) ++
        cohort.flatMap(q => Layers.spark(run, spark, times(q).size, _ == s"q.$q", s".$q"))
    Outcome(e2e, detail, layers)
  }
}

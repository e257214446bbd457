package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result line.
  *
  * {{{
  * Main --workload board|live --seed N --seconds S --trace 0|1
  *      --data DIR --expected FILE --work DIR --keep DIR --out FILE --source ID
  * Main --generate-expected FILE --dump DIR --data DIR
  * }}}
  */
object Main {

  /** The per-layer metrics the result line carries in a traced run. */
  val Reported: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_s", "spark.skew", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.gc_s",
    "env.calib_cpu_s", "env.calib_io_s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("generate-expected")) {
      val spark = graft.Bench.openSession()
      Board.generate(spark, s"${opts("data")}/${Board.Scale}",
        opts("generate-expected"), opts("dump"))
      spark.stop()
    } else System.exit(bench(opts))
  }

  def bench(opts: Map[String, String]): Int = {
    // a seed beyond 64 bits keeps its low 64
    val run = new Run(opts("workload"), BigInt(opts("seed")).toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("data"), opts("work"), opts("keep"))
    val calibCpu = Env.calibCpu()
    val out = run.workload match {
      case "board" => Board(run, opts("expected"))
      case "live" => Live(run)
      case w => sys.error(s"unknown workload $w")
    }
    val spark = SparkSession.active
    val env = Seq(
      Metric("env.cpus", spark.sparkContext.defaultParallelism, "count"),
      Metric("env.heap_gb", graft.ops.JvmEnv.heapMaxBytes / 1073741824.0, "GB"),
      Metric("env.calib_cpu_s", calibCpu, "s"),
      Metric("env.calib_io_s", Env.calibIo(spark, run.dataDir), "s"))
    spark.stop()
    def json(ms: Seq[Metric]): String = Json.obj(ms.map(m => m.name -> Json.obj(Seq(
      "value" -> Json.num(m.value), "unit" -> Json.str(m.unit), "n" -> m.n.toString))))
    val head = Seq("workload" -> Json.str(run.workload), "seed" -> run.seed.toString,
      "trace" -> (if (run.traced) "1" else "0"), "source" -> Json.str(opts("source")))
    println(Json.obj(head ++ Seq("env" -> json(env), "metrics" -> json(out.e2e ++ out.detail))))
    val tag = s"${run.workload}-${run.seed}-t${if (run.traced) 1 else 0}"
    if (run.traced) {
      val layers = out.layers ++ env.filter(m => Reported.contains(m.name))
      println(Json.obj(head ++ Seq("layers" -> json(layers))))
      Files.writeString(Paths.get(s"${run.keepDir}/trace-$tag.json"),
        Json.obj(head ++ Seq("layers" -> json(layers), "spans" -> run.tracer.toJson)))
    }
    val reported =
      if (run.traced) (out.layers ++ env).filter(m => Reported.contains(m.name))
      else out.e2e
    val result = Json.obj(Seq(
      "correct" -> (run.failed == 0).toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.obj(reported.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    Files.writeString(Paths.get(opts("out")), result + "\n")
    if (run.failed == 0) 0 else 1
  }
}

package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer numbers of a traced run. Every workload reports the same
  * table, zeros included, so the split between workloads reads directly:
  * `queries.*` only on `board`, `api.*` and `stream.*` only on `live`.
  */
object Layers {

  val RequestKinds: Seq[String] = Draw.Kinds.map(_._1)

  /** (metric, span name, unit): mean self time per span of that name. */
  val SpanMetrics: Seq[(String, String, String)] = Seq(
    ("queries.build_s", "queries.build", "s"),
    ("queries.plan_s", "queries.plan", "s"),
    ("exec.materialize_s", "exec.materialize", "s"),
    ("ops.ck_drain_s", "ops.ck_drain", "s"),
    ("api.train_s", "api.train", "s"),
    ("api.tiered_serve_ms", "api.tiered_serve", "ms")) ++
    RequestKinds.flatMap(k => Seq(
      (s"api.build_ms.$k", s"api.build.$k", "ms"),
      (s"api.collect_ms.$k", s"api.collect.$k", "ms")))

  val StreamDurations: Seq[(String, String)] = Seq(
    "add_batch" -> "addBatch", "query_planning" -> "queryPlanning",
    "wal_commit" -> "walCommit", "trigger" -> "triggerExecution")

  /** Mean self time per span, for spans started at or after `fromNs`. */
  def spans(run: Run, fromNs: Long): Seq[Metric] = {
    val all = run.tracer.all.filter(s => s.endNs >= 0 && s.startNs >= fromNs)
    val counts = all.groupBy(_.name).view.mapValues(_.size).toMap
    val self = Tracer.selfSeconds(all)
    SpanMetrics.map { case (metric, name, unit) =>
      val n = counts.getOrElse(name, 0)
      val mean = if (n == 0) 0.0 else self(name) / n
      Metric(metric, if (unit == "ms") mean * 1000 else mean, unit, n)
    }
  }

  /** The Spark counters of everything tagged since the last reset, per
    * operation; these are the per-layer metrics of the result line.
    */
  def spark(run: Run, spark: SparkSession, ops: Long,
      tags: String => Boolean = _ => true, suffix: String = ""): Seq[Metric] = {
    val t = run.counters.get.totals(spark)(tags)
    val per = math.max(1L, ops).toDouble
    val mb = 1048576.0
    Seq(
      Metric("spark.jobs" + suffix, t.jobs / per, "count", ops),
      Metric("spark.stages" + suffix, t.stages / per, "count", ops),
      Metric("spark.tasks" + suffix, t.tasks / per, "count", ops),
      Metric("spark.task_s" + suffix, t.taskMs / 1000.0 / per, "s", ops),
      Metric("spark.skew" + suffix, t.skew, "ratio", t.skews.size),
      Metric("spark.shuffle_read_mb" + suffix, t.shuffleRead / mb / per, "MB", ops),
      Metric("spark.shuffle_write_mb" + suffix, t.shuffleWrite / mb / per, "MB", ops),
      Metric("spark.spill_mb" + suffix, t.spill / mb / per, "MB", ops),
      Metric("spark.gc_s" + suffix, t.gcMs / 1000.0 / per, "s", ops))
  }

  /** Zeros for every layer a workload does not reach. */
  def zeros(names: Seq[(String, String)]): Seq[Metric] =
    names.map { case (n, u) => Metric(n, 0.0, u, 0) }

  val BoardOnly: Seq[(String, String)] = Seq(
    "ops.ck_swept" -> "count", "ops.pinned_blocks" -> "count",
    "sources.staged_build_s" -> "s", "trace.overhead_s" -> "s")
  val LiveOnly: Seq[(String, String)] =
    Seq("gen", "control").flatMap(q => StreamDurations.map { case (m, _) =>
      s"stream.${m}_ms.$q" -> "ms" }) ++
      Seq("stream.pending_max" -> "count", "stream.retrains" -> "count",
        "stream.threshold_crossings" -> "count")
}

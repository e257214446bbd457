package graft.perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.api.Serving
import graft.sources.ModelRegistry
import graft.stream.{Interactions, Retrain}

/** The `live` workload: the reference's generator, trainer and API in one
  * closed loop. Each cycle offers [[Threshold]] fixed-size micro-batches
  * of generator offsets through `Interactions.writeBatches`; the
  * `Retrain.control` loop retrains on them and publishes to a
  * `ModelRegistry`; one tiered request must then be served by the new BEST
  * version; then one block of the serve request mix reads that model.
  */
object Live {

  val BatchRows = 5000
  val Threshold = 3
  val Rank = 4
  /** Untimed cycles before the window, so the sink, the control query,
    * the fit and the request path are warm.
    */
  val WarmCycles = 1

  /** Per-query `StreamingQueryProgress.durationMs` totals, by query id. */
  final class Progress extends StreamingQueryListener {
    val totals = new ConcurrentHashMap[(String, String), java.lang.Long]()
    val batches = new ConcurrentHashMap[String, java.lang.Long]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        val id = e.progress.id.toString
        batches.merge(id, 1L, (a, b) => a + b)
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          totals.merge((id, k), v, (a, b) => a + b)
        }
      }
    def clear(): Unit = { totals.clear(); batches.clear() }
  }

  final class State(val spark: SparkSession, val dir: String, val catalog: DataFrame,
      val input: MemoryStream[(Timestamp, Long)], val gen: StreamingQuery,
      val control: Retrain.Control, val registry: ModelRegistry,
      val api: Serving, val progress: Progress,
      /** The open `stream.control` span the retrain callback nests under. */
      val controlSpan: java.util.concurrent.atomic.AtomicInteger) {
    var offered = 0L
    var batches = 0
    var published = 0
    val freshness = ArrayBuffer.empty[Double]
    val batchMs = ArrayBuffer.empty[Double]
    /** (request kind, seconds) of every timed request with a right answer. */
    val requests = ArrayBuffer.empty[(String, Double)]
    val digests = ArrayBuffer.empty[String]
    var pendingMax = 0
  }

  /** Generator streams, and the offsets between their starts: a run
    * offers far fewer than [[StreamSpan]] rows.
    */
  val Streams = 1000L
  val StreamSpan = 1000000L

  /** The first generator offset of a seed's stream. Seeds of any size,
    * negative ones too, map onto [[Streams]] streams, so every offset stays
    * below a billion and every event time between 2024 and 2056.
    */
  def firstOffset(seed: Long): Long = Math.floorMod(seed, Streams) * StreamSpan

  /** Generator rows for offsets [from, from + n), at one row per second
    * of event time from 2024-01-01.
    */
  def rows(from: Long, n: Int): Seq[(Timestamp, Long)] =
    (from until from + n).map(v => (new Timestamp(1704067200000L + v * 1000L), v))

  /** Session, the cached catalog the API reads, and both stream queries. */
  def setup(run: Run, spark: SparkSession): State = {
    val dir = s"${run.workDir}/live"
    val catalog = Serve.catalog(spark, run.catalogDir).cache()
    catalog.count()
    val registry = new ModelRegistry(s"$dir/registry")
    val api = new Serving(spark, registry)
    val progress = new Progress
    val controlSpan = new java.util.concurrent.atomic.AtomicInteger(-1)
    spark.streams.addListener(progress)
    val input = MemoryStream[(Timestamp, Long)](
      Encoders.product[(Timestamp, Long)], spark.sqlContext)
    val gen = run.tagged(spark, "gen")(Interactions.writeBatches(
      Interactions.synthesize(input.toDF().toDF("timestamp", "value")),
      s"$dir/batches", s"$dir/ckpt-gen", Trigger.ProcessingTime(0)))
    val control = run.tagged(spark, "control")(Retrain.control(spark,
      s"$dir/batches", s"$dir/ckpt-control", Threshold, Trigger.ProcessingTime(0)) {
      df =>
        run.tracer.span("api.train", "retrain", controlSpan.get)(run.tagged(spark, "train") {
          api.trainCollaborative(df.select(col("user_id").cast("int"),
            substring(col("track_id"), 2, 5).cast("int").as("item_id"),
            col("rating").cast("float")), rank = Rank)
        })
        ()
    })
    new State(spark, dir, catalog, input, gen, control, registry, api, progress,
      controlSpan)
  }

  /** Offers one micro-batch and drives both queries until it is consumed;
    * after a publish, serves one tiered request and checks its version.
    */
  def batch(run: Run, st: State, warm: Boolean): Unit = {
    val label = s"${if (warm) "warm " else ""}batch ${st.batches}"
    val from = firstOffset(run.seed) + st.offered
    run.attempt(label) {
      val t0 = System.nanoTime()
      run.tracer.span("stream.offer", label)(st.input.addData(rows(from, BatchRows)))
      run.tracer.span("stream.gen", label)(st.gen.processAllAvailable())
      val sinkMs = Env.secondsSince(t0) * 1000
      st.offered += BatchRows
      st.batches += 1
      // the file source may list the directory just before the batch lands;
      // drive it until it has consumed every batch offered so far
      val deadline = System.nanoTime() + 60L * 1000000000L
      def consumed = st.control.totals._1 * Threshold + st.control.pendingCount
      run.tracer.span("stream.control", label) {
        st.controlSpan.set(run.tracer.current)
        while (consumed < st.batches && System.nanoTime() < deadline)
          st.control.query.processAllAvailable()
      }
      if (consumed != st.batches)
        throw new IllegalStateException(s"control consumed $consumed of ${st.batches}")
      st.pendingMax = math.max(st.pendingMax, st.control.pendingCount)
      if (!warm) st.batchMs += sinkMs
      if (st.control.totals._1 > st.published) {
        st.published += 1
        val best = st.registry.best("als")
        run.check(label, best.isDefined && best == st.registry.latest("als"),
          s"BEST $best is not latest ${st.registry.latest("als")}")
        val user = ((from / BatchRows) % Serve.Users).toInt
        val rows = run.tracer.span("api.tiered_serve", label)(run.tagged(st.spark, "tiered")(
          st.api.collaborativeTiered(Seq(user), Serve.K, st.catalog).collect().toSeq))
        run.check(label, rows.nonEmpty && rows.forall(_.getAs[String]("tier") == "trained-best"),
          s"tiers ${rows.map(_.getAs[String]("tier")).distinct}")
        if (!warm) st.freshness += Env.secondsSince(t0)
      }
    }
  }

  /** One cycle: [[Threshold]] micro-batches (the last one publishes), then
    * one block of the request mix against the new model.
    */
  def cycle(run: Run, st: State, blocks: Iterator[Seq[Draw.Request]], warm: Boolean): Unit = {
    (0 until Threshold).foreach(_ => batch(run, st, warm))
    blocks.next().foreach { r =>
      val label = s"${if (warm) "warm " else ""}request ${st.digests.size} ${r.kind}"
      Serve.request(run, st.spark, st.api, st.catalog, r, label).foreach { case (rows, secs) =>
        if (!warm) {
          st.requests += r.kind -> secs
          st.digests += Fingerprint.of(rows.iterator)
        }
      }
    }
  }

  /** Mean `durationMs` per data-carrying micro-batch of each query, and
    * the control loop's counts.
    */
  def streamLayers(st: State): Seq[Metric] = {
    val ids = Seq("gen" -> st.gen.id.toString, "control" -> st.control.query.id.toString)
    ids.flatMap { case (q, id) =>
      val n = Option(st.progress.batches.get(id)).map(_.longValue).getOrElse(0L)
      Layers.StreamDurations.map { case (metric, key) =>
        val total = Option(st.progress.totals.get((id, key))).map(_.doubleValue).getOrElse(0.0)
        Metric(s"stream.${metric}_ms.$q", if (n == 0) 0.0 else total / n, "ms", n)
      }
    } ++ Seq(
      Metric("stream.pending_max", st.pendingMax, "count"),
      Metric("stream.retrains", st.control.totals._1.toDouble, "count"),
      Metric("stream.threshold_crossings", st.batches / Threshold, "count"))
  }

  def stop(st: State): Unit = { st.gen.stop(); st.control.query.stop() }

  /** Exactly-once and retrain-count checks over everything offered. */
  def verify(run: Run, st: State): Unit = {
    val spark = st.spark
    val written = spark.read.schema(Retrain.interactionSchema)
      .json(s"${st.dir}/batches/batch_*").count()
    run.check("live rows", written == st.offered, s"$written rows written, ${st.offered} offered")
    val summarized = spark.read.json(s"${st.dir}/batches/summary_*")
      .agg(sum(col("size"))).head().getLong(0)
    run.check("live summaries", summarized == st.offered,
      s"summaries sum to $summarized, ${st.offered} offered")
    val (retrains, _) = st.control.totals
    run.check("live retrains", retrains == st.batches / Threshold,
      s"$retrains retrains after ${st.batches} batches")
  }

  def apply(run: Run): Outcome = {
    val (spark, st, setupS) = run.setUp(setup(run, _))
    val blocks = Draw.requests(run.seed, Serve.Users, Serve.Items, Serve.MaxOffset)
    (0 until WarmCycles).foreach(_ => cycle(run, st, blocks, warm = true))
    st.progress.clear()
    run.counters.foreach(_.reset(spark))
    val cpu0 = graft.ops.JvmEnv.processCpuNanos
    val (offered0, batches0) = (st.offered, st.batches)
    val t0 = System.nanoTime()
    // whole cycles only, so every window ends on a publish and a full block
    var cycles = 0
    while (Run.another(Env.secondsSince(t0), cycles, run.seconds)) {
      cycle(run, st, blocks, warm = false)
      cycles += 1
    }
    val wall = Env.secondsSince(t0)
    val cpuS = (graft.ops.JvmEnv.processCpuNanos - cpu0) / 1e9
    val rowsOffered = st.offered - offered0
    val batches = st.batches - batches0
    val ops = batches + st.requests.size
    stop(st)
    verify(run, st)
    Answers.sameAsFirstRun(run, st.digests.toSeq)
    val (pinBlocks, pinBytes) = graft.ops.Ck.pinnedReport(spark)
    val req = Quantiles.summarize(st.requests.map(_._2 * 1000).toSeq)
    val b = Quantiles.summarize(st.batchMs.toSeq)
    val f = Quantiles.summarize(st.freshness.toSeq)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("p50_ms", req.p50, "ms", req.n),
      Metric("rate_per_s", rowsOffered / wall, "1/s", batches))
    val detail = Seq(
      Metric("serve_p50_ms", req.p50, "ms", req.n)) ++
      req.tailLevel.filter(_ > 50).map(l =>
        Metric(f"serve_p$l%.0f_ms", req.tail, "ms", req.n)) ++ Seq(
      Metric("serve_rps", st.requests.size / st.requests.map(_._2).sum, "1/s", req.n),
      Metric("ingest_batch_p50_ms", b.p50, "ms", b.n),
      Metric("ingest_rows_per_s", rowsOffered / (st.batchMs.sum / 1000), "1/s", batches),
      Metric("freshness_s", f.p50, "s", f.n),
      Metric("pinned_mb", pinBytes / 1048576.0, "MB", pinBlocks),
      Metric("cpu_s", cpuS, "s"),
      Metric("cpu_ms_per_op", cpuS * 1000 / math.max(1, ops), "ms", ops))
    val layers = if (!run.traced) Nil else
      Layers.spark(run, spark, ops) ++ Layers.spans(run, t0) ++
        Layers.zeros(Layers.BoardOnly) ++ streamLayers(st) ++
        (Seq("gen", "control", "train", "tiered") ++ Layers.RequestKinds).flatMap(q =>
          Layers.spark(run, spark, ops, _ == q, s".$q"))
    Outcome(e2e, detail, layers)
  }
}

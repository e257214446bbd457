package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to benchmark operations by job tag. The benchmark
  * tags each call with [[tagged]]; every job, stage and task that call
  * starts is counted under that tag.
  *
  * Tags are SparkContext job tags rather than session tags: MLlib fits run
  * RDD jobs outside any SQL execution, and only context tags reach them.
  * Threads inherit the tags of the thread that created them, so a
  * streaming query started inside [[tagged]] keeps its tag for life.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val byTag = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val taskTimes = new ConcurrentHashMap[(Int, Int), ArrayBuffer[Long]]()

  private def acc(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(TagsKey)))
      .flatMap(_.split(",").find(_.startsWith(Prefix))).foreach { tag =>
        acc(tag).synchronized { acc(tag).jobs += 1 }
        e.stageInfos.foreach(s => stageTag.putIfAbsent(s.stageId, tag))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val a = acc(tag)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      taskTimes.computeIfAbsent((e.stageId, e.stageAttemptId), _ => ArrayBuffer.empty)
        .synchronized(taskTimes.get((e.stageId, e.stageAttemptId))
          += (if (m != null) m.executorRunTime else e.taskInfo.duration))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val times = Option(taskTimes.remove(key)).map(_.toSeq).getOrElse(Nil)
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      val a = acc(tag)
      a.synchronized {
        a.stages += 1
        val med = Quantiles.median(times.map(_.toDouble))
        if (times.size > 1 && med > 0) a.skews += times.max / med
      }
    }
  }

  /** Forgets everything counted so far (the start of a timed window). */
  def reset(spark: SparkSession): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    byTag.clear()
  }

  /** Totals for the tags matching `p`, summed; waits for the listener bus
    * first so every finished call is counted.
    */
  def totals(spark: SparkSession)(p: String => Boolean): Totals = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val sel = byTag.asScala.filter { case (t, _) => p(t.stripPrefix(Prefix)) }.values
    sel.foldLeft(Totals.zero) { (t, a) => a.synchronized {
      Totals(t.jobs + a.jobs, t.stages + a.stages, t.tasks + a.tasks,
        t.taskMs + a.taskMs, t.gcMs + a.gcMs, t.shuffleRead + a.shuffleRead,
        t.shuffleWrite + a.shuffleWrite, t.spill + a.spill, t.skews ++ a.skews)
    } }
  }
}

object SparkCounters {
  val TagsKey = "spark.job.tags"
  val Prefix = "pb:"

  final class Acc {
    var jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    val skews = ArrayBuffer.empty[Double]
  }

  final case class Totals(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
      gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      skews: Seq[Double]) {
    /** Mean over multi-task stages of (slowest task / median task); 1 when
      * every stage ran a single task.
      */
    def skew: Double = if (skews.isEmpty) 1.0 else skews.sum / skews.size
  }
  object Totals { val zero = Totals(0, 0, 0, 0, 0, 0, 0, 0, Nil) }

  /** Runs `body` with the calling thread's jobs tagged `tag` (replacing any
    * benchmark tag the thread already carries, restored afterwards).
    */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getJobTags().filter(_.startsWith(Prefix))
    prior.foreach(sc.removeJobTag)
    sc.addJobTag(Prefix + tag)
    try body
    finally {
      sc.removeJobTag(Prefix + tag)
      prior.foreach(sc.addJobTag)
    }
  }
}

package mrbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerDrain, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task, as the listener saw it. */
final case class TaskRec(stage: Int, runMs: Long, readsShuffle: Boolean,
    shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long, failed: Boolean)

/** Attributes every task to the job group it ran under. The benchmark
  * tags each span's jobs with a group of its own, so the counters of a
  * span are exactly those of the work its call started.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val byGroup = mutable.HashMap.empty[String, mutable.ArrayBuffer[TaskRec]]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null) {
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(e.stageId, 0, readsShuffle = false, 0, 0, 0, failed = true)
        else {
          val sr = m.shuffleReadMetrics
          TaskRec(e.stageId, m.executorRunTime,
            sr.localBlocksFetched + sr.remoteBlocksFetched > 0 || sr.recordsRead > 0,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
            m.diskBytesSpilled, e.reason != Success)
        }
      synchronized(byGroup.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += rec)
    }
  }

  def take(group: String): Seq[TaskRec] = synchronized(byGroup.remove(group).toSeq.flatten)
}

/** A finished span: `counters` come from the tasks its jobs ran and from
  * the JVM's collectors over its interval.
  */
final case class Span(id: Int, name: String, parent: Option[Int], runId: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Task-level counters of one span. A stage that reads shuffle is a
    * reduce stage; every other stage is a map stage.
    */
  def counters(tasks: Seq[TaskRec], wallS: Double, cores: Int): Map[String, Double] = {
    val reduceStages = tasks.filter(_.readsShuffle).map(_.stage).toSet
    val (reduce, map) = tasks.partition(t => reduceStages(t.stage))
    val taskS = tasks.map(_.runMs).sum / 1e3
    val reduceMs = reduce.map(_.runMs.toDouble)
    val medReduce = if (reduceMs.isEmpty) 0.0 else Main.median(reduceMs)
    Map(
      "task_s" -> taskS,
      "map_task_s" -> map.map(_.runMs).sum / 1e3,
      "reduce_task_s" -> reduceMs.sum / 1e3,
      "shuffle_write_mb" -> tasks.map(_.shuffleBytes).sum / 1e6,
      "shuffle_records" -> tasks.map(_.shuffleRecords).sum.toDouble,
      "map_shuffle_records" -> map.map(_.shuffleRecords).sum.toDouble,
      "spill_mb" -> tasks.map(_.spillBytes).sum / 1e6,
      "reduce_skew" -> (if (medReduce > 0) reduceMs.max / medReduce else 0.0),
      "busy_share" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "task_retries" -> tasks.count(_.failed).toDouble)
  }
}

/** Records spans around the benchmark's calls into each layer. Spans
  * stay in memory; [[write]] appends them as JSON lines when a run ends.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val listener = new GroupListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var runId = ""

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = sc.removeSparkListener(listener)

  def beginRun(id: String): Unit = runId = id

  /** Runs `body` as span `name` under the innermost open span. Returns
    * the body's value and the finished span.
    */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption
    val group = s"$runId/$id"
    stack = id :: stack
    sc.setJobGroup(group, name)
    val gc0 = Tracer.gcMs()
    val t0 = System.nanoTime()
    val r = try body finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$runId/$p", "")
        case None => sc.clearJobGroup()
      }
    }
    val t1 = System.nanoTime()
    val gcS = (Tracer.gcMs() - gc0) / 1e3
    ListenerDrain(sc)
    val c = Tracer.counters(listener.take(group), (t1 - t0) / 1e9, cores) + ("gc_s" -> gcS)
    val s = Span(id, name, parent, runId, t0, t1, c)
    spans += s
    (r, s)
  }

  /** Self time: the span's wall minus the part its direct children cover. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent.contains(s.id)).map(_.wallS).sum

  def all: Seq[Span] = spans.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Main.fmt(v)}""" }
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent.getOrElse("null")},""" +
        s""""run":"${s.runId}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${Main.fmt(selfS(s))},"counters":{${cs.mkString(",")}}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

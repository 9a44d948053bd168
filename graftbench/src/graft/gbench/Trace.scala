package graft.gbench

import org.apache.spark.gbench.Bridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark's own counters, fed by the listeners the benchmark registers. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stageMaxMs = mutable.Map[Int, Long]().withDefaultValue(0L)

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }
  def snapshot(): Map[String, Double] = c.synchronized(c.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    if (e.stageInfos.map(_.numTasks).sum == 1) add("one_task_jobs", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    add("tasks", 1)
    add("task_ms", m.executorRunTime)
    add("gc_ms", m.jvmGCTime)
    add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    add("spill_bytes", m.diskBytesSpilled)
    stageMaxMs.synchronized {
      stageMaxMs(e.stageId) = math.max(stageMaxMs(e.stageId), m.executorRunTime)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    val maxMs: Long = stageMaxMs.synchronized(stageMaxMs.remove(e.stageInfo.stageId).getOrElse(0L))
    add("critical_path_ms", maxMs.toDouble)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) => add(s"${phase}_ms", s.durationMs) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress of the replication pipeline. */
final class Progress extends StreamingQueryListener {
  final case class Batch(batchId: Long, rows: Long, triggerMs: Long, addBatchMs: Long)
  private val batches = mutable.ArrayBuffer[Batch]()
  def all: Seq[Batch] = batches.synchronized(batches.toList)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches.synchronized(batches += Batch(p.batchId, p.numInputRows, ms("triggerExecution"), ms("addBatch")))
    ()
  }
}

/** Span recorder, used from the benchmark's single client thread. With
  * tracing off `span` only runs its body. With tracing on, it waits for
  * the listener bus at both ends of the span, so the span carries the
  * Spark counters of exactly the work done inside it (children included). */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Rec(span: Stats.Span, counters: Map[String, Double])

  val counters = new Counters
  val progress = new Progress
  private val recs = mutable.ArrayBuffer[Rec]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  if (enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    spark.streams.addListener(progress)
  }

  def drain(): Unit = if (enabled) Bridge.drain(spark.sparkContext)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      drain()
      val before = counters.snapshot()
      val start = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val end = System.nanoTime()
        drain()
        val after = counters.snapshot()
        recs += Rec(Stats.Span(id, name, start, end, parent),
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
      }
    }

  def records: Seq[Rec] = recs.toList
  def named(name: String): Seq[Rec] = recs.filter(_.span.name == name).toList

  /** Sum of one counter over the spans with `name`. */
  def total(name: String, counter: String): Double = named(name).map(_.counters.getOrElse(counter, 0.0)).sum
  def seconds(name: String): Double = named(name).map(_.span.duration).sum / 1e9

  def spansJson(runId: String): Seq[String] = recs.map { r =>
    val s = r.span
    s"""{"run":"$runId","id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent}}"""
  }.toList
}

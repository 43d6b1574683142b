package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval on the wall clock (epoch microseconds). `parent`
  * is the id of the enclosing span when the event names it (job → SQL
  * execution, stage → job); containment in time decides the rest.
  */
final case class Span(id: String, parent: String, kind: String, name: String,
    startUs: Long, endUs: Long)

/** Everything the traced run observes from outside the engine, through
  * Spark's public listener interfaces. Events are buffered in memory and
  * reduced after the session stops, when the listener bus has drained.
  */
final class Trace(runId: String) {
  /** Every executed statement with its duration (0 when it failed). */
  val statements = new ConcurrentLinkedQueue[(QueryExecution, Long)]()
  val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val sqlSpans = new ConcurrentLinkedQueue[Span]()
  val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  val jobSpans = new ConcurrentLinkedQueue[Span]()
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stageSpans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private def ms2us(ms: Long): Long = ms * 1000L

  val sparkListener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        val st = Option(sqlStarts.get(s.executionId)).getOrElse(s.time)
        sqlSpans.add(Span(s"$runId/sql${s.executionId}", "", "statement",
          s"execution ${s.executionId}", ms2us(st), ms2us(s.time)))
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobStarts.put(j.jobId, (j.time, exec.map(id => s"$runId/sql$id").getOrElse("")))
      j.stageIds.foreach(s => stageJob.put(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val (st, parent) = Option(jobStarts.get(j.jobId)).getOrElse((j.time, ""))
      jobSpans.add(Span(s"$runId/job${j.jobId}", parent, "job", s"job ${j.jobId}",
        ms2us(st), ms2us(j.time)))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime) {
        val job = Option(stageJob.get(i.stageId)).map(j => s"$runId/job$j").getOrElse("")
        stageSpans.add(Span(s"$runId/stage${i.stageId}.${i.attemptNumber()}", job, "stage",
          i.name, ms2us(a), ms2us(b)))
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.add(t)
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      statements.add((qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      statements.add((qe, 0L))
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile var attached = false

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Delivers every event already posted, then removes the listeners. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Batch spans from streaming progress: a trigger starts at
    * `timestamp` and lasts `triggerExecution` milliseconds.
    */
  def batchSpans: Seq[Span] = progress.asScala.toSeq.map { p =>
    val st = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    Span(s"$runId/batch${p.runId}.${p.batchId}", "", "batch", s"${p.name} batch ${p.batchId}",
      ms2us(st), ms2us(st + d))
  }
}

object Trace {
  /** Nesting depth of each span kind inside an op: an instant of the op
    * belongs to the deepest kind that covers it (its self time).
    */
  val Depth: Map[String, Int] = Map("op" -> 0, "batch" -> 1, "statement" -> 2, "job" -> 3, "stage" -> 4)

  /** Self time per kind over the op spans, in seconds: each op interval
    * is cut at every child boundary and each piece is credited to the
    * deepest kind active there, so the kinds sum to the ops' wall time.
    */
  def selfTimes(ops: Seq[Span], children: Seq[Span]): Map[String, Double] = {
    val acc = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val sorted = children.sortBy(_.startUs)
    ops.foreach { op =>
      val inside = sorted.filter(c => c.endUs > op.startUs && c.startUs < op.endUs)
      val cuts = (Seq(op.startUs, op.endUs) ++ inside.flatMap(c => Seq(c.startUs, c.endUs)))
        .filter(t => t >= op.startUs && t <= op.endUs).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val mid = (a + b) / 2.0
          val kind = inside.filter(c => c.startUs <= mid && c.endUs >= mid)
            .map(_.kind).maxByOption(Depth).getOrElse("op")
          acc(kind) += (b - a) / 1e6
        case _ =>
      }
    }
    acc.toMap
  }
}

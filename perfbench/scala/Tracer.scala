package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener side of the traced run: Spark jobs (with their result
  * stage's call-site file, which names the layer that launched them),
  * task metrics per job, Catalyst phase times and Exchange counts per
  * executed query, and streaming micro-batch progress. Everything is
  * kept in memory as raw records with epoch-ms times; `run.py`
  * attributes them to ops by time (one client, one op at a time).
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
  private val batches = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.maxBy(_.stageId)
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(result.name)
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new Job(e.jobId, e.time, callSiteFile(site), group.orNull)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (id <- stageJob.get(e.stageId); j <- jobs.get(id); if m != null) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.diskBytesSpilled
      j.inputRows += m.inputMetrics.recordsRead
      j.outBytes += m.outputMetrics.bytesWritten
      j.outRows += m.outputMetrics.recordsWritten
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def secs(p: String): Double =
      phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
    val exchanges = PlanWalk.collect(qe.executedPlan) { case x: Exchange => x }.size
    val rec = new java.util.LinkedHashMap[String, Any]()
    rec.put("t", phases.values.map(_.endTimeMs).foldLeft(0L)(math.max))
    rec.put("analysis_s", secs("analysis"))
    rec.put("optimize_s", secs("optimization"))
    rec.put("planning_s", secs("planning"))
    rec.put("exchanges", exchanges)
    synchronized(queries += rec)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val rec = new java.util.LinkedHashMap[String, Any]()
      rec.put("t", java.time.Instant.parse(p.timestamp).toEpochMilli)
      rec.put("run", p.runId.toString)
      rec.put("batch_s", d.getOrElse("triggerExecution", 0L) / 1e3)
      rec.put("add_batch_s", d.getOrElse("addBatch", 0L) / 1e3)
      rec.put("log_commit_s",
        (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)) / 1e3)
      rec.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      rec.put("state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      synchronized(batches += rec)
    }
  }

  /** All records so far, after the listener bus has delivered every
    * event posted before this call.
    */
  def report(spark: SparkSession): java.util.Map[String, Any] = {
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
    synchronized {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("jobs", jobs.values.map(_.toMap).toSeq.asJava)
      m.put("queries", queries.toSeq.asJava)
      m.put("batches", batches.toSeq.asJava)
      m
    }
  }
}

object Tracer {
  final class Job(val id: Int, val start: Long, val file: String, val group: String) {
    var end = 0L
    var stages, tasks = 0
    var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var inputRows, outBytes, outRows = 0L
    def toMap: java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", id); m.put("start", start); m.put("end", end)
      m.put("file", file); m.put("group", group)
      m.put("stages", stages); m.put("tasks", tasks)
      m.put("cpu_ns", cpuNs); m.put("run_ms", runMs); m.put("gc_ms", gcMs)
      m.put("shuffle_write", shuffleWrite); m.put("shuffle_read", shuffleRead)
      m.put("spill", spill); m.put("input_rows", inputRows)
      m.put("out_bytes", outBytes); m.put("out_rows", outRows)
      m
    }
  }

  /** `"save at PerfBench.scala:97"` → `PerfBench.scala`. */
  def callSiteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val loc = if (at >= 0) site.substring(at + 4) else site
    loc.takeWhile(_ != ':').trim
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.qeListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}

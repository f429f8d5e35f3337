package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: workload -> pass -> op -> job. Times are wall-clock ms
  * (the clock Spark's listener events carry).
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Long, endMs: Long,
                      attrs: Map[String, Double] = Map.empty)

/** A Spark job seen by the listener, with the task totals of its stages. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String,
                   val groupOp: String) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
}

/** Listeners of the traced run. They only record: every event goes
  * into memory and is attributed to op spans after the passes end, by
  * the op whose interval holds the event's start time (job group
  * properties are not trusted: pool threads in the program can carry
  * another op's local properties).
  */
final class Tracer(spark: SparkSession) {
  /** Local property naming the op that set it; compared with the
    * time-based attribution to count jobs whose group is stale.
    */
  val OpProperty = "perfbench.op"

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  // (first phase start ms, summed phase ms) per finished query
  val queries = new ConcurrentLinkedQueue[(Long, Long)]()
  // (trigger start ms, durationMs by phase) per stream progress event
  val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .getOrElse("")
      val rec = new JobRec(e.jobId, e.time, site, group)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.put(_, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.deserMs += m.executorDeserializeTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            j.spill += m.diskBytesSpilled
          }
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        queries.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      progress.add((start, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

object Trace {
  /** Total length of the union of [s, e) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Source file of a Spark call site ("count at PipelineOps.scala:612"). */
  def callSiteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val loc = if (at >= 0) site.substring(at + 4) else site
    loc.takeWhile(_ != ':').stripSuffix(".scala")
  }
}

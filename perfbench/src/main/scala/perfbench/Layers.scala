package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work attributed to one span name. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var scanMs = 0L
  var filesRead = 0L
  /** Partitions read by scans of a table whose name ends with the
    * suffix given to [[SparkLayers]] (the dedup index's buckets).
    */
  var bucketPartitionsRead = 0L
  var bucketScans = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; scanMs += o.scanMs; filesRead += o.filesRead
    bucketPartitionsRead += o.bucketPartitionsRead; bucketScans += o.bucketScans
  }
}

/** The traced run's view of the engine, through Spark's public listener
  * interfaces only:
  *
  *  - a `SparkListener` counts jobs, tasks, task time, GC, shuffle and
  *    spill, attributed to the benchmark span that submitted the job
  *    (the span name travels as a job-local property, inherited by the
  *    micro-batch threads of streaming queries started under it);
  *  - a `QueryExecutionListener` reads the finished physical plans for
  *    file-scan metrics (files and partitions read, scan time),
  *    attributed to the span of the last job before it;
  *  - a `StreamingQueryListener` keeps every trigger's progress record.
  *
  * All three are attached only around traced units ([[begin]] to
  * [[end]]), so untraced units pay for none of it.
  */
final class SparkLayers(spark: SparkSession, bucketTableSuffix: Option[String]) {
  import SparkLayers._

  // the span of the most recent job: a finished query's plan event
  // follows its jobs on the same listener queue, and the benchmark
  // makes its calls one at a time, so that is the query's span
  private var lastJobSpan = Untagged
  private val byStage = mutable.HashMap.empty[Int, String]
  private val counters = mutable.HashMap.empty[String, Counters]
  @volatile private var fencesSeen = 0
  private var fencesPosted = 0
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  // counters of the traced units that have ended
  private val kept = mutable.HashMap.empty[String, Counters]
  // progress records of triggers that started before this are from
  // untraced work
  @volatile private var since = java.time.Instant.MAX

  private def of(span: String): Counters = counters.getOrElseUpdate(span, new Counters)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkLayers.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse(Untagged)
      if (span.startsWith(FencePrefix)) fencesSeen = span.drop(FencePrefix.length).toInt
      else {
        of(span).jobs += 1
        e.stageIds.foreach(byStage(_) = span)
        lastJobSpan = span
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkLayers.this.synchronized {
      byStage.get(e.stageId).foreach { span =>
        val c = of(span)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      SparkLayers.this.synchronized {
        val c = of(lastJobSpan)
        scans(qe.executedPlan).foreach { s =>
          def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
          c.filesRead += metric("numFiles")
          c.scanMs += metric("scanTime")
          if (bucketTableSuffix.exists(suffix => s.tableIdentifier.exists(_.table.endsWith(suffix)))) {
            c.bucketScans += 1
            c.bucketPartitionsRead += metric("numPartitions")
          }
        }
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (!java.time.Instant.parse(e.progress.timestamp).isBefore(since)) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Attaches the listeners for one traced unit. Events of earlier,
    * untraced work that they still receive are dropped.
    */
  def begin(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
    fence()
    synchronized { counters.clear(); lastJobSpan = Untagged }
    since = java.time.Instant.now()
  }

  /** Ends a traced unit once all its events are in: keeps its counters
    * and detaches the listeners, so untraced units pay for none of them.
    */
  def end(): Unit = {
    fence()
    awaitProgress()
    synchronized {
      counters.foreach { case (k, c) => kept.getOrElseUpdate(k, new Counters).add(c) }
      counters.clear()
    }
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
    since = java.time.Instant.MAX
  }

  /** Streaming progress events travel on their own listener queue; wait
    * until every active query's last trigger has been reported, then
    * give the queue a moment to deliver the last events of queries that
    * have stopped.
    */
  private def awaitProgress(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def pending = spark.streams.active.exists { q =>
      Option(q.lastProgress).exists(lp => !progressOf(q.name).exists(_.batchId >= lp.batchId))
    }
    while (pending && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(200)
  }

  /** Block until every event posted so far has been handled: the job
    * and plan listeners share Spark's listener queue, so once a marker
    * job submitted now is seen, all earlier events are in.
    */
  def fence(): Unit = {
    fencesPosted += 1
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, FencePrefix + fencesPosted)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanKey, prev)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (fencesSeen < fencesPosted && System.nanoTime() < deadline) Thread.sleep(5)
    require(fencesSeen >= fencesPosted, "listener events did not drain within 60 s")
  }

  /** Counters per span name over the traced units that have ended. */
  def snapshot(): Map[String, Counters] = synchronized(kept.toMap)

  def progressOf(queryName: String): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.name == queryName).toSeq
}

object SparkLayers {
  val SpanKey = "perfbench.span"
  val FencePrefix = "perfbench.fence."
  val Untagged = "untagged"

  /** File-scan leaves of a finished physical plan, looking through
    * adaptive-execution wrappers and reused exchanges.
    */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
}

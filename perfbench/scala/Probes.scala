package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark observes from outside the program: a
  * [[SparkListener]] for jobs, stages and task metrics, a
  * [[QueryExecutionListener]] for the SQL metrics of each executed plan,
  * and a [[StreamingQueryListener]] for micro-batch progress. The
  * listeners only append records; all aggregation happens after the
  * measured window. */
final class Probes {
  import Probes._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val sqls = new ConcurrentLinkedQueue[Sql]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  private val running = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val tags = prop("spark.job.tags").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Nil)
      running.put(e.jobId, Job(e.jobId, e.time, 0L, tags, prop(QueryIdKey),
        prop(BatchIdKey).map(_.toLong)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(running.remove(e.jobId)).foreach(j => jobs.add(j.copy(endMs = e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(Stage(
        stageId = i.stageId,
        jobId = Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1),
        details = i.details,
        startMs = i.submissionTime.getOrElse(0L),
        endMs = i.completionTime.getOrElse(0L),
        tasks = i.numTasks,
        runS = m.executorRunTime / 1e3,
        cpuS = m.executorCpuTime / 1e9,
        gcS = m.jvmGCTime / 1e3,
        inputRecords = m.inputMetrics.recordsRead,
        inputBytes = m.inputMetrics.bytesRead,
        outputRecords = m.outputMetrics.recordsWritten,
        outputBytes = m.outputMetrics.bytesWritten,
        shuffleReadRecords = m.shuffleReadMetrics.recordsRead,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      sqls.add(Sql(System.currentTimeMillis(), f, ns / 1e6, topOperators(qe)))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      sqls.add(Sql(System.currentTimeMillis(), s"$f FAILED", 0.0, Nil))
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val src = p.sources.headOption
      progress.add(Progress(p.name, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L),
        d.getOrElse("walCommit", 0L),
        src.map(_.startOffset).orNull, src.map(_.endOffset).orNull))
    }
  }

  def install(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(sql)
    s.streams.addListener(streaming)
  }

  def uninstall(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(sql)
    s.streams.removeListener(streaming)
  }
}

object Probes {
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  final case class Job(id: Int, startMs: Long, endMs: Long, tags: Seq[String],
      queryId: Option[String], batchId: Option[Long])
  final case class Stage(stageId: Int, jobId: Int, details: String,
      startMs: Long, endMs: Long, tasks: Int, runS: Double, cpuS: Double, gcS: Double, inputRecords: Long, inputBytes: Long,
      outputRecords: Long, outputBytes: Long, shuffleReadRecords: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def wallS: Double = math.max(0L, endMs - startMs) / 1e3
    /** Scans input and parses it up to the first exchange. */
    def isScan: Boolean = inputRecords > 0 && shuffleReadRecords == 0
    /** Scans input and feeds a key exchange: the backfill's parse stage. */
    def isScanToExchange: Boolean = isScan && shuffleWriteBytes > 0
    /** Reads an exchange and writes the job's output: the backfill's
      * compaction stage (its parquet write is pipelined into it). */
    def isExchangeToOutput: Boolean =
      shuffleReadRecords > 0 && shuffleWriteBytes == 0 && outputRecords > 0
    /** Called from the cache or warm-start seam (by call site, since
      * pool threads inherit whatever job tags their creator had). */
    def isCacheBuild: Boolean =
      details.contains("graft.BoundedDfCache") || details.contains("graft.Prewarm")
  }
  final case class Sql(atMs: Long, func: String, ms: Double,
      top: Seq[(String, Double)])
  final case class Progress(name: String, batchId: Long,
      startMs: Long, triggerMs: Long, addBatchMs: Long, walCommitMs: Long,
      startOffset: String, endOffset: String) {
    def commitMs: Long = startMs + triggerMs
  }

  /** The three plan operators with the most time in their SQL metrics. */
  def topOperators(qe: QueryExecution): Seq[(String, Double)] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    qe.executedPlan.foreach { node =>
      val ms = node.metrics.values.map { m =>
        m.metricType match {
          case "timing" => m.value.toDouble
          case "nsTiming" => m.value / 1e6
          case _ => 0.0
        }
      }.foldLeft(0.0)(math.max)
      if (ms > 0) acc += node.nodeName -> ms
    }
    acc.sortBy(-_._2).take(3).toSeq
  }
}

/** Peak old-generation occupancy after a collection, read from the JVM's
  * GC notifications: every collection between [[start]] and [[stop]]
  * reports what the old generation still held after it, and the largest
  * of those is the peak. No collection is forced. */
final class HeapPeak {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  @volatile private var samples = 0
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (pool.contains("Old Gen")) {
            samples += 1
            if (u.getUsed > peak) peak = u.getUsed
          }
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Stop listening; the peak in MB and the number of collections seen. */
  def stop(): (Double, Int) = {
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
    (peak / 1048576.0, samples)
  }
}

/** Chrome-trace (`chrome://tracing`, Perfetto) writer: complete events
  * (`ph: X`) with microsecond times, one track per thread id. */
final class ChromeTrace {
  private val events = new ConcurrentLinkedQueue[String]()

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def args(a: Seq[(String, Any)]): String = a.map {
    case (k, v: Double) => js(k) + ":" + Main.num(v)
    case (k, v: Long) => js(k) + ":" + v
    case (k, v: Int) => js(k) + ":" + v
    case (k, v) => js(k) + ":" + js(v.toString)
  }.mkString("{", ",", "}")

  def span(name: String, track: String, startMs: Double, endMs: Double,
      a: Seq[(String, Any)] = Nil): Unit =
    events.add(s"""{"name":${js(name)},"ph":"X","pid":1,"tid":${js(track)},"ts":${Main.num(startMs * 1e3)},"dur":${Main.num(math.max(0.0, endMs - startMs) * 1e3)},"args":${args(a)}}""")

  def instant(name: String, track: String, atMs: Double,
      a: Seq[(String, Any)] = Nil): Unit =
    events.add(s"""{"name":${js(name)},"ph":"i","s":"t","pid":1,"tid":${js(track)},"ts":${Main.num(atMs * 1e3)},"args":${args(a)}}""")

  def write(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(events.asScala.mkString("{\"traceEvents\":[\n", ",\n", "\n]}\n"))
    finally w.close()
  }
}

package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts read from Spark's public listener bus and the JVM's management
  * beans. All fields are cumulative; callers difference two snapshots. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    dsv2Records: Long = 0, planMs: Long = 0, gcMs: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, dsv2Records - o.dsv2Records, planMs - o.planMs, gcMs - o.gcMs)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, dsv2Records + o.dsv2Records, planMs + o.planMs, gcMs + o.gcMs)
}

/** One traced interval: a benchmark call into a layer, or a Spark job. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long)

/** Listener counts and spans, both only when tracing: an untraced run
  * registers nothing, and its [[snapshot]] is all zeros.
  *
  * Spans wrap the benchmark's calls into the engine's layers; Spark jobs
  * join the trace as `spark.job` spans under whichever span was open when
  * the job started. Everything stays in memory until [[writeJson]]. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val MarkerKey = "perfbench.marker"
  private val lock = new Object
  private var c = Counts()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  // listener events carry wall-clock milliseconds; spans use nanoTime
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nanosAt(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L
  private var maxHeapAfterGc = 0L
  // marker jobs that [[snapshot]] runs to drain the bus; left out of the counts
  private val markerJobs = mutable.HashSet.empty[Int]
  private val markerStages = mutable.HashSet.empty[Int]
  private var markersSent = 0L
  private var markersSeen = 0L

  private def update(f: Counts => Counts): Unit = lock.synchronized { c = f(c) }

  private val bus = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) {
        markerJobs += e.jobId; markerStages ++= e.stageIds
      } else {
        c = c.copy(jobs = c.jobs + 1)
        jobStarts(e.jobId) = nanosAt(e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (markerJobs.remove(e.jobId)) markersSeen += 1
      else jobStarts.remove(e.jobId).foreach(t0 => jobs += ((t0, nanosAt(e.time))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val dsv2 = info.rddInfos.exists(_.name.contains("DataSourceRDD"))
      val records = Option(info.taskMetrics).map(_.inputMetrics.recordsRead).getOrElse(0L)
      if (!isMarker(info.stageId)) update(x => x.copy(stages = x.stages + 1,
        dsv2Records = x.dsv2Records + (if (dsv2) records else 0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!isMarker(e.stageId)) Option(e.taskMetrics).foreach { m =>
        update(x => x.copy(tasks = x.tasks + 1,
          taskRunMs = x.taskRunMs + m.executorRunTime,
          taskCpuNs = x.taskCpuNs + m.executorCpuTime,
          shuffleWriteBytes = x.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = x.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          spillBytes = x.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPlanning(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      addPlanning(qe)
  }

  /** Catalyst phase time (analysis, optimization, planning) of `qe`. The
    * listener sees Dataset actions; the benchmark adds the plans it runs
    * through `.rdd` itself. */
  def addPlanning(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    update(x => x.copy(planMs = x.planMs + ms))
  }

  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = n.getUserData.asInstanceOf[CompositeData].get("gcInfo").asInstanceOf[CompositeData]
        val after = info.get("memoryUsageAfterGc").asInstanceOf[javax.management.openmbean.TabularData]
        val used = after.values().asScala.map { row =>
          val v = row.asInstanceOf[CompositeData].get("value").asInstanceOf[CompositeData]
          v.get("used").asInstanceOf[Long]
        }.sum
        lock.synchronized { maxHeapAfterGc = math.max(maxHeapAfterGc, used) }
      }
  }
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def isMarker(stageId: Int): Boolean = lock.synchronized(markerStages.contains(stageId))

  if (enabled) {
    spark.sparkContext.addSparkListener(bus)
    spark.listenerManager.register(queries)
    gcBeans.foreach {
      case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
      case _ =>
    }
  }

  /** Cumulative counts once the bus has delivered every event the calls so
    * far produced. A job's end event is posted before its action returns,
    * but delivered later, on the bus's own thread. So this runs a one-task
    * marker job (tagged by a local property, left out of the counts) and
    * waits for its end: the bus delivers in posting order, so every earlier
    * job's events have arrived by then. All zeros when tracing is off. */
  def snapshot(): Counts = if (!enabled) Counts() else {
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(MarkerKey, null)
    val sent = lock.synchronized { markersSent += 1; markersSent }
    val deadline = System.nanoTime() + 5000000000L
    while (lock.synchronized(markersSeen < sent) && System.nanoTime() < deadline)
      Thread.sleep(1)
    val gc = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
    lock.synchronized(c.copy(gcMs = gc))
  }

  def heapAfterGcBytes: Long = lock.synchronized(maxHeapAfterGc)

  /** Run `body` inside a span named `name` (layer = text before the first
    * dot). Costs two clock reads when tracing is off. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = lock.synchronized {
        val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, System.nanoTime(), -1L)
        spans += s; open.push(s); s
      }
      try body
      finally lock.synchronized { s.endNs = System.nanoTime(); open.pop() }
    }

  /** Benchmark spans plus one `spark.job` span per finished job, parented
    * to the innermost benchmark span open when the job started. */
  def closed: Seq[Span] = lock.synchronized {
    val bench = spans.filter(_.endNs >= 0).toList
    bench ++ jobs.toList.zipWithIndex.map { case ((t0, t1), i) =>
      val parent = bench.filter(b => b.startNs <= t0 && t0 <= b.endNs)
        .maxByOption(_.startNs).map(_.id).getOrElse(-1)
      Span(spans.size + i, parent, "spark.job", t0, t1)
    }
  }

  /** Self time per layer (the text before the first dot of a span name):
    * each span's duration minus the union of its children's intervals
    * (Spark jobs of one call can overlap, e.g. a broadcast beside a scan). */
  def selfSecondsByLayer: Map[String, Double] = {
    val all = closed
    val children = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        var covered = 0L
        var reach = s.startNs
        children.getOrElse(s.id, Nil).map(ch => (math.max(ch.startNs, s.startNs), math.min(ch.endNs, s.endNs)))
          .sortBy(_._1).foreach { case (a, b) =>
            val from = math.max(a, reach)
            if (b > from) { covered += b - from; reach = b }
          }
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def writeJson(file: java.io.File, header: Map[String, String]): Unit = {
    val all = closed
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sb = new StringBuilder
    sb.append("{\"header\": {")
    sb.append(header.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", "))
    sb.append("},\n \"spans\": [\n")
    sb.append(all.map(s => f"""  {"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, """ +
      f""""start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f}""").mkString(",\n"))
    sb.append("\n]}\n")
    file.getParentFile.mkdirs()
    java.nio.file.Files.writeString(file.toPath, sb.toString)
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(bus)
    spark.listenerManager.unregister(queries)
    gcBeans.foreach {
      case e: NotificationEmitter => e.removeNotificationListener(gcListener)
      case _ =>
    }
  }
}

package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval of the traced run. Times are epoch milliseconds (the
  * clock Spark's listener events use, so spans built from events nest with
  * spans timed here); `parent` is -1 for a root.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startMs: Double, endMs: Double)

/** Spans kept in memory for the whole run and written out at its end. The
  * parent of a span is the innermost open span of the calling thread.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  @volatile var trace: Long = 0
  private val epochMs = System.currentTimeMillis()
  private val epochNs = System.nanoTime()

  private def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open.get.headOption.getOrElse(-1L)
    open.set(id :: open.get)
    val start = nowMs
    try body
    finally {
      open.set(open.get.tail)
      record(Span(id, parent, trace, name, start, nowMs))
    }
  }

  /** A span whose interval was measured elsewhere (a SQL execution seen by
    * the listener), attached under `parent`.
    */
  def add(parent: Long, name: String, startMs: Double, endMs: Double): Unit =
    record(Span(ids.incrementAndGet(), parent, trace, name, startMs, endMs))

  /** The most recently closed span with this name. */
  def last(name: String): Span = synchronized(done.findLast(_.name == name).get)

  private def record(s: Span): Unit = synchronized { done += s; () }

  def spans: Seq[Span] = synchronized(done.toList)
}

/** Task counters summed over a set of tasks. */
final class TaskSums {
  var tasks, runMs, cpuNs, bytesRead, recordsRead, scanTasks = 0L
  var outBytes, outRecords, shWriteBytes, shWriteRecords = 0L
  var shReadRecords, fetchWaitMs, spillBytes, schedDelayMs = 0L

  def add(m: org.apache.spark.executor.TaskMetrics, info: TaskInfo): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    bytesRead += m.inputMetrics.bytesRead
    recordsRead += m.inputMetrics.recordsRead
    if (m.inputMetrics.bytesRead > 0) scanTasks += 1
    outBytes += m.outputMetrics.bytesWritten
    outRecords += m.outputMetrics.recordsWritten
    shWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shWriteRecords += m.shuffleWriteMetrics.recordsWritten
    shReadRecords += m.shuffleReadMetrics.recordsRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spillBytes += m.diskBytesSpilled
    // the Spark UI's definition: task wall time not spent deserializing,
    // running, serializing the result or fetching it
    schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
  }
}

/** Stage and task counters from Spark's public listener events, keyed by root
  * SQL execution. A SQL execution that writes files is attributed to its
  * output path, which is how fan-out branches are told apart: each branch
  * writes under `<home>/<branch>`.
  */
final class JobListener extends SparkListener {
  final class Stage(val execId: Long) {
    val sums = new TaskSums
    val shuffleReadPerTask = mutable.ArrayBuffer.empty[Long]
    var pipeRdds = 0 // RDDs created by graft.pipeline.ShippedPipe, i.e. one child process per task each
    var scans = false // reads files (input bytes of other stages are cached blocks)
  }
  final class Execution {
    val sums = new TaskSums
    var startMs, endMs = 0L
    var plan = "" // its write node, "Execute InsertIntoHadoopFsRelationCommand file:/…"
  }

  val stages = mutable.Map.empty[Int, Stage]
  val executions = mutable.Map.empty[Long, Execution]
  private val roots = mutable.Map.empty[Long, Long]

  def reset(): Unit = synchronized { stages.clear(); executions.clear(); roots.clear() }

  private def exec(id: Long) = executions.getOrElseUpdate(id, new Execution)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a command's nested executions count towards their root
    val props = Option(e.properties)
    val execId = Seq("spark.sql.execution.root.id", "spark.sql.execution.id").iterator
      .flatMap(k => props.flatMap(p => Option(p.getProperty(k)))).nextOption()
      .map(_.toLong).getOrElse(-1L)
    e.stageInfos.foreach { si =>
      val st = stages.getOrElseUpdate(si.stageId, new Stage(execId))
      st.pipeRdds = si.rddInfos.count(_.callSite.contains("ShippedPipe"))
      st.scans = si.rddInfos.exists(r => r.name == "FileScanRDD" || r.name.contains("HadoopRDD"))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = stages.getOrElseUpdate(e.stageId, new Stage(-1L))
      st.sums.add(m, e.taskInfo)
      if (m.shuffleReadMetrics.recordsRead > 0)
        st.shuffleReadPerTask += m.shuffleReadMetrics.totalBytesRead
      if (st.execId >= 0) exec(st.execId).sums.add(m, e.taskInfo)
    }
  }

  private def nodes(p: org.apache.spark.sql.execution.SparkPlanInfo): Iterator[String] =
    Iterator(p.simpleString) ++ p.children.iterator.flatMap(nodes)

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.getOrElse(s.executionId)
        val x = exec(root)
        x.startMs = if (x.startMs == 0) s.time else math.min(x.startMs, s.time)
        if (root == s.executionId)
          x.plan = nodes(s.sparkPlanInfo).find(_.contains("InsertIntoHadoopFsRelationCommand"))
            .getOrElse("")
        roots(s.executionId) = root
      case s: SparkListenerSQLExecutionEnd =>
        val x = exec(roots.getOrElse(s.executionId, s.executionId))
        x.endMs = math.max(x.endMs, s.time)
      case _ =>
    }
  }

  def total: TaskSums = synchronized {
    val t = new TaskSums
    stages.values.foreach { s => merge(t, s.sums) }
    t
  }

  /** (bytes, tasks) read from files. */
  def scanned: (Long, Long) = synchronized {
    val s = stages.values.filter(_.scans)
    (s.map(_.sums.bytesRead).sum, s.map(_.sums.scanTasks).sum)
  }

  private def merge(into: TaskSums, s: TaskSums): Unit = {
    into.tasks += s.tasks; into.runMs += s.runMs; into.cpuNs += s.cpuNs
    into.bytesRead += s.bytesRead; into.recordsRead += s.recordsRead
    into.scanTasks += s.scanTasks; into.outBytes += s.outBytes
    into.outRecords += s.outRecords; into.shWriteBytes += s.shWriteBytes
    into.shWriteRecords += s.shWriteRecords
    into.shReadRecords += s.shReadRecords; into.fetchWaitMs += s.fetchWaitMs
    into.spillBytes += s.spillBytes; into.schedDelayMs += s.schedDelayMs
  }

  /** Executions that wrote under `home`, by the first path component below
    * it, read from the write command in the execution's plan. (The id a
    * QueryExecutionListener sees is the QueryExecution's own, not the SQL
    * execution id that jobs carry, so the plan is the link.)
    */
  def branches(home: String): Map[String, Execution] = synchronized {
    val dir = java.util.regex.Pattern.quote(
      new java.io.File(home).getAbsolutePath.stripSuffix("/") + "/")
    val branch = s"InsertIntoHadoopFsRelationCommand (?:file:)?$dir([^/,\\s]+)".r.unanchored
    executions.values.flatMap { x =>
      x.plan match {
        case branch(name) => Some(name -> x)
        case _ => None
      }
    }.toMap
  }

  /** Max ÷ median shuffle bytes read per task, in the stage that read the
    * most shuffle bytes (1 when no stage read a shuffle).
    */
  def reduceSkew: Double = synchronized {
    stages.values.filter(_.shuffleReadPerTask.size >= 2)
      .maxByOption(_.shuffleReadPerTask.sum) match {
      case Some(s) =>
        val v = s.shuffleReadPerTask.sorted
        val n = v.size
        val med = if (n % 2 == 1) v(n / 2).toDouble else (v(n / 2 - 1) + v(n / 2)) / 2.0
        if (med > 0) v.last / med else 1.0
      case None => 1.0
    }
  }

  /** Stages that ran a child process, with (children, lines in, lines out):
    * a child stage's lines in are its input or shuffle records read, its
    * lines out its shuffle or output records written.
    */
  def execStages: (Long, Long, Long, Long) = synchronized {
    val ex = stages.values.filter(_.pipeRdds > 0)
    val children = ex.map(s => s.sums.tasks * s.pipeRdds).sum
    val in = ex.map(s => s.sums.recordsRead + s.sums.shReadRecords).sum
    val out = ex.map(s => s.sums.shWriteRecords + s.sums.outRecords).sum
    val busyMs = ex.map(_.sums.runMs).sum
    (children, in, out, busyMs)
  }
}

/** Process-level counters: CPU from /proc/self/stat (JVM user+sys, and the
  * user+sys of reaped children, fields 14-17), heap after GC and GC time.
  */
final class ProcessMeters(clockTicks: Double) {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  @volatile private var peakAfterGc = 0L

  // heap in use right after each collection, from the GC notifications
  gcBeans.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if isHeap(pool) => u.getUsed
          }.sum
          if (used > peakAfterGc) peakAfterGc = used
        }
      }, null, null)
    case _ =>
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private def isHeap(pool: String) = heapPools(pool)

  /** (jvm cpu s, children cpu s) so far. */
  def cpu(): (Double, Double) = {
    val stat = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")))
    // fields after the parenthesised command name; utime is field 14
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    val t = f.slice(11, 15).map(_.toLong / clockTicks)
    (t(0) + t(1), t(2) + t(3))
  }

  def gc(): (Double, Long) = (gcBeans.map(_.getCollectionTime).sum / 1000.0,
    gcBeans.map(_.getCollectionCount).sum)

  def resetPeak(): Unit = peakAfterGc = 0L
  def peakHeapMb: Double = peakAfterGc / 1048576.0
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Engine counters attributed to one span (or to the whole run). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputRecords = 0L
  var recordsWritten = 0L
  /** Input records of stages that scan files (FileScanRDD). */
  var fileScanRecords = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; runMs += o.runMs; gcMs += o.gcMs
    inputRecords += o.inputRecords; recordsWritten += o.recordsWritten
    fileScanRecords += o.fileScanRecords
  }

  def addTask(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      inputRecords += m.inputMetrics.recordsRead
      recordsWritten += m.outputMetrics.recordsWritten
    }
  }
}

/** One timed region around a call into a layer. `rows` is the layer's
  * output row count when the span's code knows it (else the parquet
  * records written inside it). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    counters: Counters, rows: Option[Long])

object Trace {
  /** Local-property key carrying the innermost open span id into the
    * jobs a thread submits. */
  val SpanKey = "perfbench.span"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of that
    * interval its child spans cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.endNs - s.startNs - coveredNs(kids, s.startNs, s.endNs))
    }.toMap
  }
}

/**
 * Spans recorded from the benchmark's own code around each public call,
 * plus a Spark listener that attributes jobs, tasks, shuffle bytes,
 * spill, GC and executor run time, input records and records written to
 * the innermost open span (through a job's local properties, so
 * concurrent client threads stay apart). The listener bus is drained at
 * span edges; spans stay in memory until the run reports them.
 */
final class Tracer(spark: SparkSession) {
  private val nextId = new AtomicInteger(1)
  private val open = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Integer]
  /** Whole-run counters (every task, spans or not). */
  val engine = new Counters

  private def countersOf(props: java.util.Properties): Option[Counters] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .flatMap(id => Option(open.get(id.toInt)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      engine.synchronized(engine.jobs += 1)
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      id.foreach { s =>
        e.stageIds.foreach(st => stageSpan.put(st, s.toInt))
        countersOf(e.properties).foreach(c => c.synchronized(c.jobs += 1))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      engine.synchronized(engine.addTask(e))
      Option(stageSpan.get(e.stageId)).flatMap(id => Option(open.get(id)))
        .foreach(c => c.synchronized(c.addTask(e)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      if (info.rddInfos.exists(_.name == "FileScanRDD") && info.taskMetrics != null) {
        val n = info.taskMetrics.inputMetrics.recordsRead
        engine.synchronized(engine.fileScanRecords += n)
        Option(stageSpan.get(info.stageId)).flatMap(id => Option(open.get(id)))
          .foreach(c => c.synchronized(c.fileScanRecords += n))
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def flush(): Unit = PerfbenchBus.flush(spark.sparkContext)

  /** Run `body` as span `name`. */
  def span[T](name: String)(body: => T): T = spanRows[T](name, _ => None)(body)

  /** As [[span]]; `rows` derives the output row count from the body's
    * result when the layer reports one. */
  def spanRows[T](name: String, rows: T => Option[Long])(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = Option(current.get).map(_.intValue).getOrElse(0)
    val c = new Counters
    open.put(id, c)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Trace.SpanKey)
    current.set(id)
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    val t0 = System.nanoTime()
    var result: Option[T] = None
    try { val r = body; result = Some(r); r }
    finally {
      val t1 = System.nanoTime()
      flush()
      sc.setLocalProperty(Trace.SpanKey, prevProp)
      if (parent == 0) current.remove() else current.set(parent)
      closed.synchronized {
        closed += Span(id, name, parent, t0, t1, c, result.flatMap(rows))
      }
    }
  }

  def spans: Seq[Span] = closed.synchronized(closed.toList)

  def stop(): Unit = { flush(); spark.sparkContext.removeSparkListener(listener) }
}

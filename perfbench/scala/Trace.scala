package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Cumulative counters observed from outside the program: the engine through
  * a SparkListener and a QueryExecutionListener, the JVM through its MX
  * beans, and the materialize-once frame builds through their build log. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val busyMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val queries = new AtomicLong
  val queryNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      busyMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    queries.incrementAndGet(); queryNs.addAndGet(ns)
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    queries.incrementAndGet()

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "busy_s" -> busyMs.get / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble,
    "queries" -> queries.get.toDouble,
    "query_s" -> queryNs.get / 1e9,
    "gc_s" -> Jvm.gcSeconds(),
    "frame_builds" -> graft.operators.MaterializeOnce.buildLogSize.toDouble,
    "frame_build_s" ->
      graft.operators.MaterializeOnce.buildLogSnapshot.map(_.seconds).sum)
}

object Jvm {
  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** One span: a call into a layer, made by the benchmark's own code. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double, counters: Map[String, Double])

/** Spans are kept in memory and written when the run ends. With tracing off
  * `span` only runs its body, so the untraced run pays nothing for it. */
final class Tracer(val enabled: Boolean) {
  private var spark: SparkSession = _
  private val counters = new Counters
  private val origin = System.nanoTime()
  private val stack = scala.collection.mutable.Stack[Int]()
  private var nextId = 0
  val spans = ArrayBuffer[Span]()
  var op = 0

  /** Registers the listeners on a fresh session (traced runs only). */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(counters)
    s.listenerManager.register(counters)
  }

  private def read(): Map[String, Double] = {
    if (spark != null)
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    counters.snapshot()
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val c0 = read()
      val t0 = (System.nanoTime() - origin) / 1e9
      try body
      finally {
        val t1 = (System.nanoTime() - origin) / 1e9
        val c1 = read()
        stack.pop()
        spans += Span(id, parent, op, name, t0, t1,
          c1.map { case (k, v) => k -> (v - c0(k)) })
      }
    }
}

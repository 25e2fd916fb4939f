package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** One timed operation: an ETL iteration, a query, or a served lookup.
  * Query-shaped operations split their time at the public boundaries: the
  * query function call (construct), `executedPlan` (plan) and the `noop`
  * write that computes the full result (exec). */
final case class Sample(op: Int, name: String, pass: Int, total: Double,
    construct: Double, plan: Double, exec: Double, error: Option[String])

/** One workload of the benchmark; see README.md for why each exists. */
trait Workload {
  /** Everything between a fresh session and ready: stubs, ledger, indexes. */
  def prepare(spark: SparkSession, tr: Tracer): Unit
  /** Stops what `prepare` started. */
  def release(): Unit
  /** One pass over the workload's operation list. */
  def pass(spark: SparkSession, tr: Tracer, passNo: Int): Seq[Sample]
  /** Untimed passes between the cold pass and the timed loop. */
  def warmupPasses: Int
  /** Set-up repeats per run; `setup_s` is their median. */
  def setups: Int
  /** False once the pre-generated inputs are used up. */
  def hasMore: Boolean = true
  /** Workload-specific records for the result file. */
  def report: Map[String, Any]
}

/** The benchmark's JVM side. run.py generates the inputs, starts this once
  * per run in a fresh scratch root, then checks the outputs and prints the
  * metrics. Usage:
  *   graft.perfbench.Main <workload> <seconds> <trace 0|1> <root> <fixture>
  */
object Main {
  val Cores = 4

  def session(root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.files.minPartitionNum", (Cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, root, fixture) = args
    val seconds = secondsArg.toDouble
    val tr = new Tracer(traceArg == "1")
    val checkDir = s"$root/check"
    val wl: Workload = workload match {
      case "etl_loop" => new EtlLoop(fixture, root)
      case "promql_lake" =>
        new QueryLoop(fixture, Workloads.PromqlLake, ingest = false, checkDir)
      case "curation_served" =>
        new QueryLoop(fixture, Workloads.CurationServed, ingest = true, checkDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tmp = new File(sys.props("java.io.tmpdir"))

    // set-up, several times: each in a fresh session over fresh state. The
    // first sample runs from the JVM's start.
    val setupS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to wl.setups) {
      if (spark != null) { wl.release(); spark.stop() }
      Option(tmp.listFiles()).foreach(_.filter(_.getName.startsWith("graft_"))
        .foreach(deleteTree))
      val t0 =
        if (i == 1) System.nanoTime() - (System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
        else System.nanoTime()
      spark = session(root)
      tr.attach(spark)
      tr.span("setup") { wl.prepare(spark, tr) }
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup $i: ${setupS.last}%.2f s")
    }

    val samples = ArrayBuffer[Sample]()
    val c0 = System.nanoTime()
    tr.op = 0
    samples ++= tr.span("cold") { wl.pass(spark, tr, 0) }
    val coldS = (System.nanoTime() - c0) / 1e9
    System.err.println(f"[perfbench] cold: $coldS%.2f s")

    // JIT compilation and Spark's generated code are still settling after
    // the cold pass; the timed loop starts after the warm-up passes
    tr.span("warmup") {
      for (_ <- 1 to wl.warmupPasses) samples ++= wl.pass(spark, tr, -1)
    }

    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcSeconds()
    val s0 = System.nanoTime()
    def elapsed = (System.nanoTime() - s0) / 1e9
    var passes = 0
    tr.span("steady") {
      while (elapsed < seconds && wl.hasMore) {
        passes += 1
        samples ++= wl.pass(spark, tr, passes)
      }
    }
    val steadyS = elapsed
    val gcS = Jvm.gcSeconds() - gc0
    val heapMb = Jvm.heapPeakMb()

    System.err.println(f"[perfbench] steady: $steadyS%.2f s, $passes passes")
    wl.release()
    spark.stop()

    val out = Map(
      "workload" -> workload,
      "cores" -> Cores,
      "setup_s" -> setupS,
      "cold_s" -> coldS,
      "passes" -> passes,
      "gc_s" -> gcS,
      "heap_peak_mb" -> heapMb,
      "samples" -> samples.map(s => Map(
        "op" -> s.op, "name" -> s.name, "pass" -> s.pass, "total" -> s.total,
        "construct" -> s.construct, "plan" -> s.plan, "exec" -> s.exec,
        "error" -> s.error.orNull)),
      "workload_report" -> wl.report,
      "spans" -> tr.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "counters" -> s.counters)))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$root/jvm_result.json"),
      mapper.writeValueAsString(out))
    sys.exit(0)
  }
}

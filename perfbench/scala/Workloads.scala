package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.config.{ClickHouseSettings, PrometheusSettings}
import graft.logging.StructuredLogger
import graft.operators.DocPipeline
import graft.sinks.ClickHouseHttpClient
import graft.sources.PrometheusHttpClient
import graft.streaming.{EtlConfig, EtlJob, JobStateMachine}
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

object Workloads {
  /** promql_lake's fixed query list: every MetricsEtl/NativeHistogram shared
    * frame and every physical operator shape the 98 queries produce,
    * picked by greedy set cover over (frames ∪ operator names); see
    * README.md. */
  val PromqlLake: Seq[String] = Seq(
    "q_nhcb_rate_q", "q_bottomk", "q_label_cardinality", "q_absent",
    "q_at_modifier", "q_group_agg", "q_holt_winters", "q_native_delta",
    "q_topk_movers")

  val CurationServed: Seq[String] = Seq(
    "q_cross_dedup_served", "q_probe_served", "q_ann_served",
    "q_cross_neardup", "q_contam_delta")

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** construct → plan → full execution through `sink`. */
  def timeQuery(tr: Tracer, name: String, passNo: Int,
      sink: DataFrame => Unit)(construct: => DataFrame): Sample = {
    tr.op += 1
    val t0 = System.nanoTime()
    try tr.span(s"op:$name") {
      val df = tr.span("operators.construct")(construct)
      val t1 = System.nanoTime()
      tr.span("spark.plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      tr.span("spark.exec")(sink(df))
      val t3 = System.nanoTime()
      Sample(tr.op, name, passNo, (t3 - t0) / 1e9, (t1 - t0) / 1e9,
        (t2 - t1) / 1e9, (t3 - t2) / 1e9, None)
    } catch {
      case e: Exception =>
        Sample(tr.op, name, passNo, seconds(t0), 0, 0, 0, Some(message(e)))
    }
  }
}

/** promql_lake and curation_served: a fixed list of SparkEntry queries run
  * in order, closed loop. With `ingest`, each pass ends with one
  * `DocPipeline.ingestShard`, and set-up builds the persisted indexes.
  *
  * The cold pass (pass 0) writes every result to `checkDir` as parquet, with
  * the matching oracle SQL, for the output checks; the warm-up and timed
  * passes compute the full result into the `noop` sink. */
final class QueryLoop(fixture: String, names: Seq[String], ingest: Boolean,
    checkDir: String) extends Workload {
  import Workloads._
  private var ingestSummary: Map[String, Any] = Map.empty
  // curation_served's second pass still ran about 12 % faster than its
  // first; promql_lake's first two passes agree within 2 %
  val warmupPasses = if (ingest) 1 else 0
  // a set-up without index builds is one SparkSession (under 0.1 s), so
  // more samples cost little
  val setups = if (ingest) 3 else 7

  def prepare(spark: SparkSession, tr: Tracer): Unit = if (ingest) {
    tr.span("index.build") {
      graft.index.FpIndex.ensure(spark, fixture)
      graft.index.BandIndex.ensure(spark, fixture)
      graft.index.AnnIndex.ensure(spark, fixture)
    }
  }

  def release(): Unit = ()

  def pass(spark: SparkSession, tr: Tracer, passNo: Int): Seq[Sample] = {
    def sink(name: String): DataFrame => Unit =
      if (passNo != 0) noop
      else _.write.mode("overwrite").parquet(s"$checkDir/$name")
    val qs = names.map(n => timeQuery(tr, n, passNo, sink(n))(
      SparkEntry.queries(n)(spark, fixture)))
    if (!ingest) qs
    else qs :+ timeQuery(tr, "ingest_shard", passNo, sink("ingest_shard")) {
      val (decisions, s) = DocPipeline.ingestShard(spark, fixture)
      ingestSummary = Map("n_shard_docs" -> s.nShardDocs,
        "n_exact_dup" -> s.nExactDup, "n_near_dup" -> s.nNearDup,
        "n_kept" -> s.nKept)
      decisions
    }
  }

  def report: Map[String, Any] = Map(
    "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) },
    "ingest_summary" -> ingestSummary)
}

/** etl_loop: chained EtlPipeline-shaped iterations — ledger state → fetch
  * → EtlJob.runOnce → load — against the stub servers. `now` lies far past
  * every window, so every window is full (a backfill). */
final class EtlLoop(fixture: String, root: String) extends Workload {
  import Workloads._
  private val meta = new ObjectMapper().readTree(new File(s"$fixture/etl/etl.json"))
  private val t0 = meta.get("t0").asLong
  private val windows = meta.get("windows").asInt
  private val conf = EtlConfig(meta.get("window_s").asLong,
    meta.get("overlap_s").asLong, 0L)
  private val step = s"${meta.get("step_s").asLong}s"
  // the first window starts at t0: progress − overlap
  private val initialProgress = t0 + conf.batchWindowOverlapSeconds
  private val now = t0 + 1000000000L
  private val expr = """{__name__=~".+"}"""
  private val dir = s"$root/etl"
  private val (inDir, outDir, ledgerDir) =
    (s"$dir/drop", s"$dir/out", s"$dir/ledger")
  private val logger = new StructuredLogger("etl", "INFO")

  private var prom: StubPrometheus = _
  private var ch: StubClickHouse = _
  private var promClient: PrometheusHttpClient = _
  private var chClient: ClickHouseHttpClient = _
  private var used = 0
  val warmupPasses = 6
  val setups = 3
  private val batches = ArrayBuffer[Map[String, Any]]()

  def prepare(spark: SparkSession, tr: Tracer): Unit = {
    Main.deleteTree(new File(dir))
    Files.createDirectories(Paths.get(inDir))
    prom = new StubPrometheus(Paths.get(s"$fixture/etl/windows"))
    ch = new StubClickHouse
    promClient = new PrometheusHttpClient(
      PrometheusSettings(prom.url, timeoutSeconds = 60), logger)
    chClient = new ClickHouseHttpClient(
      ClickHouseSettings(ch.url, sendReceiveTimeoutSeconds = 60), logger)
    EtlJob.latestState(EtlJob.readLedger(spark, ledgerDir))
    used = 0
    batches.clear()
  }

  def release(): Unit = { prom.stop(); ch.stop() }

  override def hasMore: Boolean = used < windows

  def pass(spark: SparkSession, tr: Tracer, passNo: Int): Seq[Sample] = {
    tr.op += 1
    used += 1
    val ts = System.nanoTime()
    var window = (0L, 0L)
    val result = try tr.span("op:etl_iteration") {
      val progress = tr.span("streaming.ledger_read") {
        EtlJob.latestState(EtlJob.readLedger(spark, ledgerDir))
      }.flatMap(_.timestampProgress).getOrElse(initialProgress)
      val (start, end) = JobStateMachine.calcWindow(progress, conf)
      window = (start, end)
      val response = s"$inDir/response_${start}_$end.json"
      val batchOut = s"$outDir/batch_${start}_$end"
      tr.span("sources.fetch")(
        promClient.queryRangeToFile(expr, start, end, step, response))
      val fetched = Files.size(Paths.get(response))
      val closed =
        try tr.span("streaming.etl_job")(EtlJob.runOnce(spark, conf, "etl",
          inDir, batchOut, ledgerDir, initialProgress, now, logger = logger))
        finally Files.deleteIfExists(Paths.get(response))
      ch.beginBatch(start)
      val parts = tr.span("sinks.load")(chClient.loadDir(batchOut))
      Right((fetched, parts, closed.batchSkippedCount.getOrElse(-1L), batchOut))
    } catch { case e: Exception => Left(message(e)) }
    val total = seconds(ts)
    val (start, end) = window
    result match {
      case Right((fetched, parts, skipped, batchOut)) =>
        val r = ch.batches(start)
        batches += Map("op" -> tr.op, "start" -> start, "end" -> end,
          "pass" -> passNo,
          "fetch_bytes" -> fetched, "part_files" -> parts,
          "rows_skipped" -> skipped, "rows_loaded" -> r.lines,
          "load_bytes" -> r.bytes, "dup_rows" -> r.dupRows,
          "sum1" -> r.sum1, "sum2" -> r.sum2)
        Main.deleteTree(new File(batchOut))  // untimed: keeps disk use flat
        Seq(Sample(tr.op, "etl_iteration", passNo, total, 0, 0, 0, None))
      case Left(err) =>
        Seq(Sample(tr.op, "etl_iteration", passNo, total, 0, 0, 0,
          Some(s"window $start: $err")))
    }
  }

  def report: Map[String, Any] = Map(
    "batches" -> batches.toSeq,
    "ledger_dir" -> ledgerDir,
    "ledger_files" -> Option(new File(ledgerDir).listFiles()).map(
      _.count(_.getName.endsWith(".parquet"))).getOrElse(0))
}

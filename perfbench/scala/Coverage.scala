package graft.perfbench

import graft.SparkEntry
import graft.operators.MaterializeOnce
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}

/** Derives promql_lake's query list by coverage, never by speed: for every
  * MetricsEtl / NativeHistogram query, the shared frames it demands and the
  * physical operators of its final plan; then a greedy set cover over
  * (frames ∪ operators), ties broken by name. Usage (README.md):
  *   graft.perfbench.Coverage <events fixture dir> <query name>...
  */
object Coverage extends AdaptiveSparkPlanHelper {
  /** Plan plumbing that says nothing about an operator's shape. */
  private val Plumbing = Set("WholeStageCodegen", "InputAdapter",
    "ColumnarToRow", "AdaptiveSparkPlan", "ShuffleQueryStage",
    "BroadcastQueryStage", "TableCacheQueryStage", "ResultQueryStage",
    "AQEShuffleRead",
    "ReusedExchange", "Project", "Filter")

  private def frames(): Set[String] = {
    val f = MaterializeOnce.getClass.getDeclaredField("materialized")
    f.setAccessible(true)
    f.get(MaterializeOnce).asInstanceOf[java.util.Map[(Any, Any, String), Any]]
      .keySet.toArray.map(_.asInstanceOf[(Any, Any, String)]._3).toSet
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Main.session(sys.props("java.io.tmpdir") + "/coverage")
    val features = args.drop(1).sorted.toSeq.map { name =>
      val fn = SparkEntry.queries(name)
      MaterializeOnce.invalidate()
      val df = fn(spark, dir)
      val plan = df.queryExecution.executedPlan
      plan.executeCollect()
      val finalPlan = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val ops = collectWithSubqueries(finalPlan) { case p: SparkPlan =>
        p.nodeName.replaceAll("\\s*\\(\\d+\\)$", "").trim
      }.toSet -- Plumbing
      val fs = frames().map("frame:" + _)
      println(s"$name\t${(fs ++ ops).toSeq.sorted.mkString(",")}")
      name -> (fs ++ ops)
    }
    var uncovered = features.flatMap(_._2).toSet
    val picked = scala.collection.mutable.ArrayBuffer[String]()
    while (uncovered.nonEmpty) {
      // most new features first; among equals, the first name
      val best = features.map(_._2.intersect(uncovered).size).max
      val (name, fs) = features.find(_._2.intersect(uncovered).size == best).get
      picked += name
      uncovered --= fs
    }
    println(s"queries surveyed: ${features.size}")
    println(s"picked: ${picked.mkString(", ")}")
    spark.stop()
  }
}

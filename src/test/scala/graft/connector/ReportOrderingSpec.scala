package graft.connector

import graft.{Fixtures, GraftTables, SparkTestSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SupportsReportOrdering: the scan's true per-partition
  * (rowKey asc, timestamp asc) emission order is reported to Catalyst so
  * RemoveRedundantSorts can elide sorts the data already satisfies —
  * at 100 TB scan volume an entire avoided sort stage.
  */
class ReportOrderingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Collect all nodes incl. AQE-hidden subtrees (not in `children`). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val sub = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: sub.flatMap(allNodes)
  }

  test("sort-by-key over a single-partition scan elides the Sort and stays correct") {
    val sf = "/root/testdata/sf0.001"
    // a parallelism of 1 plans the small range as one partition
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val df = GraftTables.nation(spark, sf)
        .where(col("n_key").between("0000", "9999"))
        .select(col("n_key"), col("n_name"))
        .sortWithinPartitions(col("n_key"))
      val got = df.collect().map(_.getString(0)).toSeq
      assert(df.rdd.getNumPartitions == 1)
      assert(got == got.sorted, "result must actually be key-ordered")
      assert(got.nonEmpty)
      val plan = df.queryExecution.executedPlan
      val sorts = allNodes(plan).filter(_.getClass.getSimpleName.startsWith("Sort"))
      assert(sorts.isEmpty, s"expected no Sort node, plan:\n$plan")
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("sort on a non-key column keeps its Sort (ordering is key-only)") {
    val sf = "/root/testdata/sf0.001"
    val df = GraftTables.nation(spark, sf)
      .where(col("n_key").between("0000", "9999"))
      .sortWithinPartitions(col("n_name"))
    df.collect()
    val sorts = allNodes(df.queryExecution.executedPlan)
      .filter(_.getClass.getSimpleName.startsWith("Sort"))
    assert(sorts.nonEmpty, "sort on a non-key column must remain")
  }

  test("multi-version scan reports (key, _timestamp) order when _timestamp is read") {
    // onlyReadLatest=false: each version is a row, ascending ts per key
    val df = Fixtures.balloonHistory(spark)
      .where(col("_row_key").between("a", "z"))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.get.asInstanceOf[BigtableScan]
    val order = scan.outputOrdering().map(_.toString).toSeq
    assert(order.size == 2 && order.head.contains("_row_key") && order(1).contains("_timestamp"), order.toString)
  }

  test("composite-key tables report no ordering (component vs concatenated order differ)") {
    val df = Fixtures.balloonsComposite(spark)
      .where(col("region") === "us-west2" && col("balloon_id") === "3698" && col("event_minute") === "2021-03-05-1200")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.get.asInstanceOf[BigtableScan]
    assert(scan.outputOrdering().isEmpty)
  }
}

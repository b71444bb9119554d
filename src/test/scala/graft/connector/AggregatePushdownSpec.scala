package graft.connector

import graft.{Fixtures, GraftTables, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SupportsPushDownAggregates (+ opt-in exact filter pushdown): global
  * COUNT/MIN/MAX fold at the store, one partial row per partition, no
  * per-row transfer out of the scan. Catalyst only pushes aggregates
  * past a scan with ZERO residual filters, so the exact-pushdown opt-in
  * is what unlocks range-restricted aggregates.
  */
class AggregatePushdownSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val sub = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: sub.flatMap(allNodes)
  }

  private def scanDesc(df: DataFrame): String =
    allNodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan.description()
    }.getOrElse("")

  private def hasResidualFilter(df: DataFrame): Boolean =
    allNodes(df.queryExecution.executedPlan).exists(_.getClass.getSimpleName == "FilterExec")

  test("COUNT(*)/MIN/MAX over an exact key range push into the scan and match the row-shipping plan") {
    val exact = GraftTables.nation(spark, sf, Map("exactFilterPushdown" -> "true"))
      .where(col("n_key").between("0003", "0019"))
      .agg(count("*").as("cnt"), min("n_key").as("min_key"),
        max("n_key").as("max_key"), max("n_regionkey").as("max_region"))
    val plain = GraftTables.nation(spark, sf)
      .where(col("n_key").between("0003", "0019"))
      .agg(count("*").as("cnt"), min("n_key").as("min_key"),
        max("n_key").as("max_key"), max("n_regionkey").as("max_region"))
    val got = exact.collect()(0)
    assert(got == plain.collect()(0))
    assert(got.getLong(0) == 17L, got.toString)
    val desc = scanDesc(exact)
    assert(desc.contains("agg=[COUNT(*), MIN(n_key), MAX(n_key), MAX(n_regionkey)]"), desc)
    assert(!hasResidualFilter(exact), "no residual filter expected under exact pushdown")
    assert(hasResidualFilter(plain), "default (inexact) plan keeps its residual filter")
    assert(!scanDesc(plain).contains("agg="), "no agg pushdown under residual filters")
  }

  test("COUNT(qualifier) counts only rows whose cell exists") {
    // weather_balloons fixture has every cell; project a count on a
    // declared qualifier plus COUNT(*) over a full scan (no filters →
    // no residual → agg pushes even without exactFilterPushdown)
    val df = spark.read.format("bigtable")
      .option("store", Fixtures.StoreName)
      .option("table", "weather_balloons")
      .option("columnFamily", "measurements")
      .option("qualifiers", "pressure:long,temperature:string")
      .option("allowFullScan", "true")
      .load()
    Fixtures.ensureSeeded()
    val agg = df.agg(count("*").as("cnt"), count("pressure").as("cnt_p"),
      min("pressure").as("min_p"), max("temperature").as("max_t"))
    val r = agg.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)) == (5L, 5L, 94122L, "9.7"))
    assert(scanDesc(agg).contains("agg=[COUNT(*), COUNT(pressure), MIN(pressure), MAX(temperature)]"), scanDesc(agg))
  }

  test("versioned tables count version rows (pivot semantics)") {
    Fixtures.ensureSeeded()
    val df = Fixtures.balloonHistory(spark)
    // no filters; full scan is blocked by the guard → allowFullScan view
    val hist = spark.read.format("bigtable")
      .option("store", Fixtures.StoreName)
      .option("table", "balloon_history")
      .option("columnFamily", "measurements")
      .option("qualifiers", "pressure:long,temperature:string")
      .option("onlyReadLatest", "false")
      .option("allowFullScan", "true")
      .load()
    val r = hist.agg(count("*").as("cnt")).collect()(0)
    assert(r.getLong(0) == df.where(col("_row_key").between("a", "z")).count())
    assert(r.getLong(0) == 3L)
  }

  test("conjoined IN-lists are NOT exact (composer unions =/IN arms) and stay unpushed") {
    // two IN arms on the key: the composer UNIONS them (reference
    // parity) while the conjunction means INTERSECT — so they must stay
    // residual, the aggregate must stay in Spark, and the residual
    // FilterExec must correct the over-broad point set
    val df = GraftTables.nation(spark, sf, Map("exactFilterPushdown" -> "true"))
      .where(col("n_key").isin("0003", "0005") && col("n_key").isin("0005", "0007"))
      .agg(count("*").as("cnt"))
    assert(df.collect()(0).getLong(0) == 1L, "intersection is exactly key 0005")
    assert(!scanDesc(df).contains("agg="), "must not push the aggregate when filters stay residual")
    assert(hasResidualFilter(df))
  }

  test("exact pushdown on a single key equality removes the residual filter and stays correct") {
    val df = GraftTables.nation(spark, sf, Map("exactFilterPushdown" -> "true"))
      .where(col("n_key") === "0007")
      .select(col("n_key"), col("n_name"))
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getString(0) == "0007")
    assert(!hasResidualFilter(df), df.queryExecution.executedPlan.toString)
  }

  test("composite key with every component pinned pushes the aggregate (point cartesian is exact)") {
    def q(extra: Map[String, String]) =
      GraftTables.orders(spark, sf, extra)
        .where(col("o_orderstatus") === "O" &&
          col("o_orderpriority").isin("1-URGENT", "3-MEDIUM") &&
          col("o_key").isin("0000000005", "0000000021", "0000000053", "0000000058"))
        .agg(count("*").as("cnt"), min("o_key").as("min_key"), max("o_key").as("max_key"))
    val exact = q(Map("exactFilterPushdown" -> "true"))
    val plain = q(Map.empty)
    assert(exact.collect()(0) == plain.collect()(0))
    val desc = scanDesc(exact)
    assert(desc.contains("agg=[COUNT(*), MIN(o_key), MAX(o_key)]"), desc)
    assert(!hasResidualFilter(exact), "all-pinned composite conjunction needs no residual")
    assert(!scanDesc(plain).contains("agg="))
  }

  test("composite key with a tail RANGE is not exact: concatenated-key range over-approximates") {
    val df = GraftTables.orders(spark, sf, Map("exactFilterPushdown" -> "true"))
      .where(col("o_orderstatus") === "O" &&
        col("o_orderpriority").isin("1-URGENT", "3-MEDIUM") &&
        col("o_key").between("0000000100", "0000000900"))
      .agg(count("*").as("cnt"))
    assert(!scanDesc(df).contains("agg="), "tail-BETWEEN composite must stay residual")
    assert(hasResidualFilter(df))
  }

  test("composite pinned value containing the separator stays residual (ambiguous concatenation)") {
    val df = GraftTables.orders(spark, sf, Map("exactFilterPushdown" -> "true"))
      .where(col("o_orderstatus") === "O#F" &&
        col("o_orderpriority") === "1-URGENT" &&
        col("o_key") === "0000000007")
      .agg(count("*").as("cnt"))
    assert(df.collect()(0).getLong(0) == 0L)
    assert(!scanDesc(df).contains("agg="))
    assert(hasResidualFilter(df))
  }

  test("GROUP BY on the row key pushes a grouped fold into the scan and matches the unpushed plan") {
    def q(extra: Map[String, String]) =
      GraftTables.eventsAllVersions(spark, sf, extra)
        .where(col("u_key").between("000000", "000050"))
        .groupBy(col("u_key"))
        .agg(count("*").as("n"), min("value").as("min_v"), max("value").as("max_v"))
        .orderBy(col("u_key"))
    val pushed = q(Map("exactFilterPushdown" -> "true"))
    val plain = q(Map.empty)
    assert(pushed.collect().toSeq == plain.collect().toSeq)
    val desc = scanDesc(pushed)
    assert(desc.contains("groupBy=[u_key] agg=[COUNT(*), MIN(value), MAX(value)]"), desc)
    assert(!scanDesc(plain).contains("agg="))
  }

  test("GROUP BY on a qualifier (not the key) stays in Spark") {
    val df = GraftTables.eventsAllVersions(spark, sf, Map("exactFilterPushdown" -> "true"))
      .where(col("u_key").between("000000", "000050"))
      .groupBy(col("event_type"))
      .agg(count("*").as("n"))
    df.collect()
    assert(!scanDesc(df).contains("agg="), "qualifier grouping must not push (not key-contiguous)")
  }

  test("SUM(long) and SUM(double) push into the scan and match the row-shipping plan") {
    def qNation(extra: Map[String, String]) =
      GraftTables.nation(spark, sf, extra)
        .where(col("n_key").between("0000", "9999"))
        .agg(sum("n_regionkey").as("s"), count("*").as("cnt"))
    val pushed = qNation(Map("exactFilterPushdown" -> "true"))
    val plain = qNation(Map.empty)
    assert(pushed.collect()(0) == plain.collect()(0))
    assert(pushed.collect()(0).getLong(1) == 25L)
    assert(scanDesc(pushed).contains("agg=[SUM(n_regionkey), COUNT(*)]"), scanDesc(pushed))

    // double: the store fold adds in scan order — the same per-partition
    // order as Spark's own partial Sum, so the result is bit-identical
    def qEvents(extra: Map[String, String]) =
      GraftTables.eventsAllVersions(spark, sf, extra)
        .where(col("u_key").between("000000", "000100"))
        .agg(sum("value").as("s"))
    val pv = qEvents(Map("exactFilterPushdown" -> "true")).collect()(0).getDouble(0)
    val uv = qEvents(Map.empty).collect()(0).getDouble(0)
    assert(java.lang.Double.compare(pv, uv) == 0)
  }

  test("grouped SUM folds per key group inside the scan") {
    def q(extra: Map[String, String]) =
      GraftTables.eventsAllVersions(spark, sf, extra)
        .where(col("u_key").between("000000", "000050"))
        .groupBy(col("u_key"))
        .agg(sum("value").as("s"), count("*").as("n"))
        .orderBy(col("u_key"))
    val pushed = q(Map("exactFilterPushdown" -> "true"))
    val plain = q(Map.empty)
    assert(pushed.collect().toSeq == plain.collect().toSeq)
    assert(scanDesc(pushed).contains("groupBy=[u_key] agg=[SUM(value), COUNT(*)]"), scanDesc(pushed))
  }

  test("SUM DISTINCT leaves the whole aggregation in Spark") {
    val df = GraftTables.nation(spark, sf, Map("exactFilterPushdown" -> "true"))
      .where(col("n_key").between("0000", "9999"))
      .agg(sum_distinct(col("n_regionkey")).as("s"))
    assert(df.collect()(0).getLong(0) == 10L) // 0+1+2+3+4
    assert(!scanDesc(df).contains("agg="), "distinct sums must not push")
  }

  test("folds over more than two batches of one partition keep their strings and group keys") {
    import graft.model.{BtCell, CellCodec}
    // 10 000 keys, every third with a second version: 13 334 rows in
    // one partition, over four 4096-row batches; the MIN and MAX of s
    // ("00000" at key 0, "10006" at key 1040) sit in the first batch
    val b = new graft.store.ConcurrentBigtable
    (0 until 10000).foreach { i =>
      val key = f"k$i%05d"
      val versions = if (i % 3 == 0) Seq(1L, 2L) else Seq(1L)
      b.mutateRows("big", Seq(key -> versions.flatMap { ts =>
        Seq(BtCell("f", "s", ts, CellCodec.encodeString(f"${(i * 7919L + (ts - 1) * 5003L) % 10007L}%05d")),
          BtCell("f", "v", ts, CellCodec.encodeLong(i * 10L + ts)))
      }))
    }
    graft.store.BigtableStores.register("agg-multibatch", b)
    def table(extra: Map[String, String]) =
      extra.foldLeft(spark.read.format("bigtable")
        .option("store", "agg-multibatch").option("table", "big")
        .option("columnFamily", "f").option("partitionCols", "k")
        .option("qualifiers", "s:string,v:long")
        .option("onlyReadLatest", "false")) { case (r, (k, v)) => r.option(k, v) }
        .load()
        .where(col("k").between("k00000", "k99999"))
    def global(extra: Map[String, String]) =
      table(extra).agg(min("s").as("min_s"), max("s").as("max_s"), count("*").as("n"))
    def grouped(extra: Map[String, String]) =
      table(extra).groupBy(col("k")).agg(count("*").as("n"), sum("v").as("sum_v")).orderBy(col("k"))
    // a parallelism of 1 plans the 10 000-key range as one partition
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val exact = Map("exactFilterPushdown" -> "true")
      assert(scanDesc(global(exact)).contains("agg=[MIN(s), MAX(s), COUNT(*)]"), scanDesc(global(exact)))
      assert(scanDesc(grouped(exact)).contains("groupBy=[k] agg=[COUNT(*), SUM(v)]"), scanDesc(grouped(exact)))
      assert(table(Map.empty).rdd.getNumPartitions == 1)
      val plain = global(Map.empty).collect().toSeq
      assert(plain.map(r => (r.getString(0), r.getString(1), r.getLong(2))) == Seq(("00000", "10006", 13334L)), plain)
      assert(global(exact).collect().toSeq == plain)
      val plainGroups = grouped(Map.empty).collect().toSeq
      assert(plainGroups.size == 10000)
      assert(grouped(exact).collect().toSeq == plainGroups)
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }
}

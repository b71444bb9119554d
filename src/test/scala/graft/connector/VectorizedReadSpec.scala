package graft.connector

import graft.{GraftTables, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The columnar read path, checked against an independent reference:
  * the same rows read from the fixture parquet with Spark's parquet
  * reader (the tables are seeded from it, see [[GraftTables]]), or
  * literal values. Every table shape — single/composite keys,
  * multi-version reads, NULL cells, all three qualifier types — in both
  * filter-pushdown modes (inexact, where Spark keeps a residual
  * FilterExec, and `exactFilterPushdown=true`), while the plan consumes
  * ColumnarBatches through a vectorized ColumnarToRow (the
  * parquet-reader shape).
  */
class VectorizedReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val pushdownModes = Seq(Map.empty[String, String], Map("exactFilterPushdown" -> "true"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def fixedTs = timestamp_micros(lit(GraftTables.FixedTs))

  /** nation.parquet in the connector's schema (n_key, _timestamp, n_name, n_regionkey). */
  private def nationParquet: DataFrame =
    spark.read.parquet(s"$sf/nation.parquet").select(
      lpad(col("n_nationkey").cast("string"), 4, "0").as("n_key"),
      fixedTs.as("_timestamp"),
      col("n_name").cast("string").as("n_name"),
      col("n_regionkey").cast("long").as("n_regionkey"))

  /** A reader over all of nation with an explicit batch size, drained
    * batch by batch: (rows per batch, (n_key, n_name, n_regionkey) per row).
    */
  private def drainNation(batchSize: Int, limit: Option[Int]): (Seq[Int], Seq[(String, String, Long)]) = {
    GraftTables.ensure(spark, sf)
    val opts = Map("store" -> GraftTables.storeName(sf), "table" -> "nation", "columnFamily" -> "f",
      "partitionCols" -> "n_key", "qualifiers" -> "n_name:string,n_regionkey:long")
    val cfg = BigtableConfig.fromOptions(opts.asJava)
    val reader = new BigtableColumnarPartitionReader(cfg, cfg.schema, Nil,
      Seq(graft.model.RowRange.full), None, limit, batchSize = batchSize)
    val sizes = Seq.newBuilder[Int]
    val rows = Seq.newBuilder[(String, String, Long)]
    try while (reader.next()) {
      val b = reader.get()
      sizes += b.numRows()
      // read each batch before the next() that overwrites it
      b.rowIterator().forEachRemaining(r =>
        rows += ((r.getUTF8String(0).toString, r.getUTF8String(2).toString, r.getLong(3))))
    }
    finally reader.close()
    (sizes.result(), rows.result())
  }

  private def nationReference: Seq[(String, String, Long)] =
    nationParquet.collect().map(r => (r.getString(0), r.getString(2), r.getLong(3))).sortBy(_._1).toSeq

  test("nation (single key, string+long quals): identical in both modes, plan is columnar") {
    val expected = sortedRows(nationParquet.where(col("n_key").between("0003", "0019")))
    assert(expected.size == 17)
    pushdownModes.foreach { extra =>
      val df = GraftTables.nation(spark, sf, extra).where(col("n_key").between("0003", "0019"))
      assert(sortedRows(df) == expected, extra)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"), plan)
    }
  }

  test("orders (composite key, double qual): identical in both modes") {
    val expected = sortedRows(
      spark.read.parquet(s"$sf/orders.parquet").select(
        col("o_orderstatus").cast("string").as("o_orderstatus"),
        col("o_orderpriority").cast("string").as("o_orderpriority"),
        lpad(col("o_orderkey").cast("string"), 10, "0").as("o_key"),
        fixedTs.as("_timestamp"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
        .where(col("o_orderstatus") === "O" && col("o_orderpriority").isin("1-URGENT", "3-MEDIUM")))
    assert(expected.nonEmpty)
    pushdownModes.foreach { extra =>
      val df = GraftTables.orders(spark, sf, extra)
        .where(col("o_orderstatus") === "O" &&
          col("o_orderpriority").isin("1-URGENT", "3-MEDIUM") &&
          col("o_key").between("0000000000", "9999999999"))
      assert(sortedRows(df) == expected, extra)
    }
  }

  test("versioned events (onlyReadLatest=false, _timestamp col): identical in both modes") {
    // one output row per event: (u_key, cell timestamp µs, event_type, value)
    val expected = GraftTables.eventsWithMicros(spark, s"$sf/events.parquet")
      .filter(r => r.getAs[Long]("user_id") <= 199L)
      .map(r => (f"${r.getAs[Long]("user_id")}%06d", r.getAs[Long]("ts_us"),
        r.getAs[String]("event_type"), r.getAs[Double]("value")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(expected.nonEmpty)
    pushdownModes.foreach { extra =>
      val got = GraftTables.eventsAllVersions(spark, sf, extra)
        .where(col("u_key").between("000000", "000199"))
        .select(col("u_key"), unix_micros(col("_timestamp")), col("event_type"), col("value"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == expected, extra)
    }
  }

  test("tiny batch size exercises multi-batch emission with identical results") {
    val (sizes, rows) = drainNation(batchSize = 3, limit = None)
    assert(sizes == Seq.fill(8)(3) :+ 1, sizes) // 25 rows
    assert(rows == nationReference)
  }

  test("limit pushdown caps the columnar reader too") {
    // through Spark: a pushed limit, seven of nation's rows
    val df = GraftTables.nation(spark, sf).where(col("n_key").between("0000", "9999")).limit(7)
    val got = sortedRows(df)
    assert(got.size == 7)
    assert(got.toSet.subsetOf(sortedRows(nationParquet).toSet))
    // one reader, the cap falling inside its second batch: the first
    // seven keys in key order
    val (sizes, rows) = drainNation(batchSize = 4, limit = Some(7))
    assert(sizes == Seq(4, 3), sizes)
    assert(rows == nationReference.take(7))
  }

  test("NULL cells surface as SQL NULL in the columnar path") {
    import graft.model.{BtCell, CellCodec}
    val b = new graft.store.ConcurrentBigtable
    b.mutateRows("tn", Seq("k1" -> Seq(BtCell("f", "a", 1L, CellCodec.encodeString("x")))))
    b.mutateRows("tn", Seq("k2" -> Seq(BtCell("f", "b", 1L, CellCodec.encodeLong(9L)))))
    graft.store.BigtableStores.register("vec-nulls", b)
    val df = spark.read.format("bigtable")
      .option("store", "vec-nulls").option("table", "tn")
      .option("columnFamily", "f").option("partitionCols", "_row_key")
      .option("qualifiers", "a:string,b:long")
      .option("allowFullScan", "true")
      .load()
    val rows = df.orderBy("_row_key").collect()
    assert(rows(0).getString(2) == "x" && rows(0).isNullAt(3))
    assert(rows(1).isNullAt(2) && rows(1).getLong(3) == 9L)
  }
}

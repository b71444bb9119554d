package graft.connector

import graft.{Fixtures, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end port of the reference's 7 golden assertions
  * (reference: src/datasource.rs:198-298) plus the gap fixtures the
  * reference never tests (SURVEY.md §5): version explosion, NULL for
  * missing cells, and the planning-time guard errors.
  */
class BigtableConnectorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def simple = {
    val df = Fixtures.balloonsSimple(spark)
    df.createOrReplaceTempView("weather_balloons")
    df
  }
  private def composite = {
    val df = Fixtures.balloonsComposite(spark)
    df.createOrReplaceTempView("weather_balloons_composite")
    df
  }

  private def microsOf(colName: String) = unix_micros(col(colName))

  // --- test 1: single `_row_key` table (datasource.rs:178-241) ---

  test("simple key: equality (datasource.rs:198-206)") {
    simple
    val rows = spark
      .sql("""SELECT `_row_key`, pressure, `_timestamp` FROM weather_balloons
              WHERE `_row_key` = 'us-west2#3698#2021-03-05-1200'""")
      .select(col("_row_key"), col("pressure"), unix_micros(col("_timestamp")).as("us"))
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("us-west2#3698#2021-03-05-1200", 94558L, 1614945605100000L)))
  }

  test("simple key: SELECT * (datasource.rs:208-216)") {
    val df = simple
    assert(df.columns.toSeq == Seq("_row_key", "_timestamp", "pressure", "temperature"))
    val rows = spark
      .sql("SELECT * FROM weather_balloons WHERE `_row_key` = 'us-west2#3698#2021-03-05-1202'")
      .select(col("_row_key"), unix_micros(col("_timestamp")), col("pressure"), col("temperature"))
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq ==
      Seq(("us-west2#3698#2021-03-05-1202", 1614945725300000L, 95992L, "9.5")))
  }

  test("simple key: IN list + ORDER BY (datasource.rs:218-227)") {
    simple
    val rows = spark
      .sql("""SELECT `_row_key`, pressure FROM weather_balloons
              WHERE `_row_key` IN ('us-west2#3698#2021-03-05-1200', 'us-west2#3698#2021-03-05-1202')
              ORDER BY `_timestamp`""")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("us-west2#3698#2021-03-05-1200", 94558L),
      ("us-west2#3698#2021-03-05-1202", 95992L)))
  }

  test("simple key: BETWEEN + ORDER BY (datasource.rs:229-239)") {
    simple
    val rows = spark
      .sql("""SELECT `_row_key`, pressure FROM weather_balloons
              WHERE `_row_key` BETWEEN 'us-west2#3698#2021-03-05-1200' AND 'us-west2#3698#2021-03-05-1202'
              ORDER BY `_timestamp`""")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("us-west2#3698#2021-03-05-1200", 94558L),
      ("us-west2#3698#2021-03-05-1201", 94122L),
      ("us-west2#3698#2021-03-05-1202", 95992L)))
  }

  // --- test 2: composite key table (datasource.rs:244-300) ---

  test("composite key: all equality (datasource.rs:268-276)") {
    composite
    val rows = spark
      .sql("""SELECT region, balloon_id, event_minute, pressure FROM weather_balloons_composite
              WHERE region = 'us-west2' AND balloon_id = '3698' AND event_minute = '2021-03-05-1200'""")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq ==
      Seq(("us-west2", "3698", "2021-03-05-1200", 94558L)))
  }

  test("composite key: = + IN + IN (datasource.rs:278-287)") {
    composite
    val rows = spark
      .sql("""SELECT event_minute, pressure FROM weather_balloons_composite
              WHERE region = 'us-west2' AND balloon_id IN ('3698')
                AND event_minute IN ('2021-03-05-1200', '2021-03-05-1202')
              ORDER BY `_timestamp`""")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("2021-03-05-1200", 94558L),
      ("2021-03-05-1202", 95992L)))
  }

  test("composite key: = + IN + tail BETWEEN (datasource.rs:289-298)") {
    composite
    val rows = spark
      .sql("""SELECT event_minute, pressure FROM weather_balloons_composite
              WHERE region = 'us-west2' AND balloon_id IN ('3698')
                AND event_minute BETWEEN '2021-03-05-1201' AND '2021-03-05-1203'
              ORDER BY `_timestamp`""")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("2021-03-05-1201", 94122L),
      ("2021-03-05-1202", 95992L),
      ("2021-03-05-1203", 96025L)))
  }

  // --- guard errors (composer.rs:72-77, 127-133) ---

  test("missing key filter fails at planning (composer.rs:72-77)") {
    simple
    val e = intercept[Exception] {
      spark.sql("SELECT pressure FROM weather_balloons").collect()
    }
    assert(e.getMessage.contains("requires an equality/IN filter"))
  }

  test("missing middle key component fails with clear error (composer.rs:109-137 hazard)") {
    composite
    val e = intercept[Exception] {
      spark
        .sql("""SELECT pressure FROM weather_balloons_composite
                WHERE region = 'us-west2' AND event_minute = '2021-03-05-1200'""")
        .collect()
    }
    assert(e.getMessage.contains("balloon_id"))
  }

  // --- gap fixtures (SURVEY.md §5/§7.3) ---

  test("version explosion: onlyReadLatest=false → one row per (key, ts) (execute_plan.rs:223-271)") {
    val df = Fixtures.balloonHistory(spark)
    val rows = df
      .filter(col("_row_key") === "us-west2#3698#2021-03-05-1200")
      .select(unix_micros(col("_timestamp")), col("pressure"), col("temperature"))
      .orderBy("_timestamp")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq == Seq(
      (1614945605100000L, 94000L, "9.1"),
      (1614945665200000L, 94558L, "9.6")))
  }

  test("onlyReadLatest=true keeps only the newest version per column") {
    val df = Fixtures.balloonHistory(spark).sparkSession.read
      .format("bigtable")
      .option("store", Fixtures.StoreName)
      .option("table", "balloon_history")
      .option("columnFamily", "measurements")
      .option("qualifiers", "pressure:long,temperature:string")
      .option("onlyReadLatest", "true")
      .load()
    val rows = df
      .filter(col("_row_key") === "us-west2#3698#2021-03-05-1200")
      .select(col("pressure"), col("temperature"))
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((94558L, "9.6")))
  }

  test("projection pushdown prunes qualifiers; key-only projection still sees rows") {
    simple
    val keys = spark
      .sql("""SELECT `_row_key` FROM weather_balloons
              WHERE `_row_key` BETWEEN 'us-west2#3698#2021-03-05-1200' AND 'us-west2#3698#2021-03-05-1204'""")
      .collect()
      .map(_.getString(0))
    assert(keys.sorted.toSeq == Fixtures.BalloonRows.map(_._1))
  }

  test("OR of key predicates runs end-to-end as a range union") {
    simple
    val rows = spark
      .sql("""SELECT `_row_key`, pressure FROM weather_balloons
              WHERE `_row_key` = 'us-west2#3698#2021-03-05-1200'
                 OR `_row_key` BETWEEN 'us-west2#3698#2021-03-05-1203' AND 'us-west2#3698#2021-03-05-1204'
              ORDER BY `_row_key`""")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("us-west2#3698#2021-03-05-1200", 94558L),
      ("us-west2#3698#2021-03-05-1203", 96025L),
      ("us-west2#3698#2021-03-05-1204", 96021L)))
  }

  test("prefix scan: LIKE 'prefix%' composes a range and returns exact rows") {
    simple
    val rows = spark
      .sql("""SELECT `_row_key`, pressure FROM weather_balloons
              WHERE `_row_key` LIKE 'us-west2#3698#2021-03-05-120%'
              ORDER BY `_row_key`""")
      .collect()
    assert(rows.length == 5)
    assert(rows.map(_.getString(0)).toSeq == Fixtures.BalloonRows.map(_._1))
    // narrower prefix
    val one = spark
      .sql("SELECT pressure FROM weather_balloons WHERE `_row_key` LIKE 'us-west2#3698#2021-03-05-1203%'")
      .collect()
    assert(one.map(_.getLong(0)).toSeq == Seq(96025L))
  }

  test("CREATE TABLE ... USING bigtable registers through SQL DDL (register_table analogue)") {
    Fixtures.ensureSeeded()
    spark.sql("DROP TABLE IF EXISTS wb_ddl")
    spark.sql(s"""
      CREATE TABLE wb_ddl USING bigtable OPTIONS (
        store '${Fixtures.StoreName}',
        table 'weather_balloons',
        columnFamily 'measurements',
        qualifiers 'pressure:long,temperature:string'
      )""")
    val rows = spark
      .sql("""SELECT pressure FROM wb_ddl WHERE `_row_key` = 'us-west2#3698#2021-03-05-1204'""")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(96021L))
    spark.sql("DROP TABLE wb_ddl")
  }

  test("TableCatalog plugin: SELECT from bt.default.<table> (SURVEY §3.3(c))") {
    Fixtures.ensureSeeded()
    spark.conf.set("spark.sql.catalog.bt", classOf[BigtableCatalog].getName)
    BigtableCatalogDefs.register("bt", "weather_balloons", BigtableConfig(
      storeName = Fixtures.StoreName, table = "weather_balloons", columnFamily = "measurements",
      partitionCols = Seq("_row_key"), separator = "#",
      qualifiers = Seq(("pressure", org.apache.spark.sql.types.LongType),
        ("temperature", org.apache.spark.sql.types.StringType)),
      onlyReadLatest = true, allowFullScan = false))
    val rows = spark
      .sql("""SELECT pressure, temperature FROM bt.default.weather_balloons
              WHERE `_row_key` = 'us-west2#3698#2021-03-05-1201'""")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((94122L, "9.7")))
    assert(spark.sql("SHOW TABLES IN bt.default").collect().map(_.getString(1)).contains("weather_balloons"))
  }

  test("_timestamp range predicate filters version rows (pushed + residual)") {
    val df = Fixtures.balloonHistory(spark)
    val rows = df
      .filter(col("_row_key") === "us-west2#3698#2021-03-05-1200" &&
        unix_micros(col("_timestamp")) >= 1614945665200000L)
      .select(col("pressure"))
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(94558L))
  }

  test("statistics: connector table in a join is auto-broadcast (SupportsReportStatistics)") {
    val nation = Fixtures.balloonsComposite(spark)
      .where(col("region") === "us-west2" && col("balloon_id") === "3698" &&
        col("event_minute").between("2021-03-05-1200", "2021-03-05-1204"))
    val other = spark.range(100).withColumnRenamed("id", "pressure")
    // no broadcast() hint: Catalyst must learn the scan is tiny from stats
    val joined = nation.join(other, "pressure")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected auto-broadcast, got:\n${plan.take(800)}")
  }

  test("limit pushdown caps partition readers, result still correct") {
    simple
    val rows = spark
      .sql("""SELECT `_row_key` FROM weather_balloons
              WHERE `_row_key` BETWEEN 'us-west2#3698#2021-03-05-1200' AND 'us-west2#3698#2021-03-05-1204'
              LIMIT 2""")
      .collect()
    assert(rows.length == 2)
  }

  test("residual filter corrects over-broad ranges (inexact pushdown, datasource.rs:163-165)") {
    simple
    // numeric-looking residual predicate on a qualifier the composer ignores
    val rows = spark
      .sql("""SELECT `_row_key` FROM weather_balloons
              WHERE `_row_key` BETWEEN 'us-west2#3698#2021-03-05-1200' AND 'us-west2#3698#2021-03-05-1204'
                AND pressure > 96000""")
      .collect()
      .map(_.getString(0))
    assert(rows.sorted.toSeq == Seq(
      "us-west2#3698#2021-03-05-1203",
      "us-west2#3698#2021-03-05-1204"))
  }

  test("value pushdown e2e: long range reaches the store and result is exact (README.md:46-47)") {
    simple
    val df = spark.sql(
      """SELECT `_row_key`, pressure FROM weather_balloons
         WHERE `_row_key` BETWEEN 'us-west2#3698#2021-03-05-1200' AND 'us-west2#3698#2021-03-05-1204'
           AND pressure BETWEEN 94000 AND 95000""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(pressure,94000)"),
      s"value bound missing from PushedFilters:\n${plan.take(900)}")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq == Seq(
      ("us-west2#3698#2021-03-05-1200", 94558L),
      ("us-west2#3698#2021-03-05-1201", 94122L)))
  }

  test("value pushdown e2e: string equality on a multi-version latest read stays correct") {
    // latest temperature for key 'a' is "9.9"; an older version is "9.6".
    // Predicate temperature='9.6' must match NOTHING (latest-then-value
    // chain order): the older passing version must not resurface.
    val b = new graft.store.ConcurrentBigtable
    b.mutateRows("vt", Seq("a" -> Seq(graft.model.BtCell("f", "temperature", 200L, graft.model.CellCodec.encodeString("9.9")))))
    b.mutateRows("vt", Seq("a" -> Seq(graft.model.BtCell("f", "temperature", 100L, graft.model.CellCodec.encodeString("9.6")))))
    b.mutateRows("vt", Seq("b" -> Seq(graft.model.BtCell("f", "temperature", 200L, graft.model.CellCodec.encodeString("9.6")))))
    graft.store.BigtableStores.register("value-vt", b)
    val df = spark.read.format("bigtable")
      .option("store", "value-vt").option("table", "vt")
      .option("columnFamily", "f").option("partitionCols", "_row_key")
      .option("qualifiers", "temperature:string")
      .option("allowFullScan", "true")
      .load()
      .where(col("temperature") === "9.6")
      .select(col("_row_key"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("a malformed boolean or integer reader option fails naming the option and the value") {
    val badValues = Seq(
      "onlyReadLatest" -> "yes", "allowFullScan" -> "1", "shipStore" -> "on",
      "exactFilterPushdown" -> "maybe", "maxComposedRanges" -> "x", "maxComposedRanges" -> "4k",
      "streamStepMicros" -> "1.5", "writeTimestampMicros" -> "now", "writeBatchRows" -> "many")
    badValues.foreach { case (option, value) =>
      val e = intercept[IllegalArgumentException] {
        spark.read.format("bigtable")
          .option("store", Fixtures.StoreName).option("table", "weather_balloons")
          .option("columnFamily", "measurements").option("qualifiers", "pressure:long")
          .option(option, value)
          .load()
      }
      assert(e.getMessage.contains(s"'$option'") && e.getMessage.contains(s"'$value'"), e.getMessage)
    }
  }
}

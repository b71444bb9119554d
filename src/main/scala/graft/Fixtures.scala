package graft

import graft.model.{BtCell, CellCodec}
import graft.store.{BigtableStores, ConcurrentBigtable}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical test fixtures (FIXTURES.md §1): the reference's 5-row
  * `weather_balloons` table (reference: script/insert_rows.py:9-15,
  * script/create_table.sh:2-3) seeded into a [[ConcurrentBigtable]], plus
  * the two logical table views from the reference's tests —
  * single `_row_key` (datasource.rs:179-194) and composite
  * `region/balloon_id/event_minute` key (datasource.rs:245-264).
  */
object Fixtures {
  val StoreName = "graft-fixtures"
  val BalloonRows: Seq[(String, Long, String, Long)] = Seq(
    ("us-west2#3698#2021-03-05-1200", 94558L, "9.6", 1614945605100000L),
    ("us-west2#3698#2021-03-05-1201", 94122L, "9.7", 1614945665200000L),
    ("us-west2#3698#2021-03-05-1202", 95992L, "9.5", 1614945725300000L),
    ("us-west2#3698#2021-03-05-1203", 96025L, "9.5", 1614945785400000L),
    ("us-west2#3698#2021-03-05-1204", 96021L, "9.6", 1614945845500000L)
  )

  /** Idempotently seed the fixture store into the JVM-wide registry. */
  def ensureSeeded(): Unit = synchronized {
    if (!BigtableStores.contains(StoreName)) {
      val store = new ConcurrentBigtable
      def put(table: String, rows: Seq[(String, Long, String, Long)]): Unit =
        rows.foreach { case (key, pressure, temperature, ts) =>
          store.mutateRows(table, Seq(key -> Seq(
            BtCell("measurements", "pressure", ts, CellCodec.encodeLong(pressure)),
            BtCell("measurements", "temperature", ts, CellCodec.encodeString(temperature)))))
        }
      put("weather_balloons", BalloonRows)
      // multi-version fixture the reference never tests (SURVEY.md §7.3):
      // same key layout, two timestamped versions per qualifier
      put("balloon_history", Seq(
        ("us-west2#3698#2021-03-05-1200", 94000L, "9.1", 1614945605100000L),
        ("us-west2#3698#2021-03-05-1200", 94558L, "9.6", 1614945665200000L),
        ("us-west2#3698#2021-03-05-1201", 94122L, "9.7", 1614945725300000L)))
      BigtableStores.register(StoreName, store)
    }
  }

  /** View (a): single reserved `_row_key` column (datasource.rs:179-194). */
  def balloonsSimple(spark: SparkSession): DataFrame = {
    ensureSeeded()
    spark.read
      .format("bigtable")
      .option("store", StoreName)
      .option("table", "weather_balloons")
      .option("columnFamily", "measurements")
      .option("qualifiers", "pressure:long,temperature:string")
      .load()
  }

  /** View (b): composite key region/balloon_id/event_minute (datasource.rs:245-264). */
  def balloonsComposite(spark: SparkSession): DataFrame = {
    ensureSeeded()
    spark.read
      .format("bigtable")
      .option("store", StoreName)
      .option("table", "weather_balloons")
      .option("columnFamily", "measurements")
      .option("partitionCols", "region,balloon_id,event_minute")
      .option("separator", "#")
      .option("qualifiers", "pressure:long,temperature:string")
      .load()
  }

  /** Multi-version view: `onlyReadLatest=false` → one row per (key, ts)
    * (execute_plan.rs:223-271 semantics).
    */
  def balloonHistory(spark: SparkSession): DataFrame = {
    ensureSeeded()
    spark.read
      .format("bigtable")
      .option("store", StoreName)
      .option("table", "balloon_history")
      .option("columnFamily", "measurements")
      .option("qualifiers", "pressure:long,temperature:string")
      .option("onlyReadLatest", "false")
      .load()
  }
}

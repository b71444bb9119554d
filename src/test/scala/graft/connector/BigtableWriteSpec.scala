package graft.connector

import graft.SparkTestSession
import graft.store.{BigtableStores, ConcurrentBigtable, RetryingStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 write path: encode-inverse-of-decode round trips, overwrite
  * truncation, retry idempotence, versioned writes, and the guard
  * errors (read-only store, undeclared column, separator-in-key).
  */
class BigtableWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private var n = 0
  private def freshStore(): String = {
    n += 1
    val name = s"write-spec-$n"
    BigtableStores.register(name, new ConcurrentBigtable)
    name
  }

  private def reader(store: String, quals: String = "v:long,s:string,d:double"): DataFrame =
    spark.read.format("bigtable")
      .option("store", store).option("table", "t").option("columnFamily", "f")
      .option("partitionCols", "k").option("qualifiers", quals)
      .option("allowFullScan", "true")
      .load()

  private def writeDf(df: DataFrame, store: String, mode: String,
      quals: String = "v:long,s:string,d:double", opts: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("bigtable")
      .option("store", store).option("table", "t").option("columnFamily", "f")
      .option("partitionCols", "k").option("qualifiers", quals)
      .mode(mode)
    opts.foreach { case (k, v) => w.option(k, v) }
    w.save()
  }

  test("append round trip: longs, strings, doubles, NULL column") {
    val store = freshStore()
    val df = Seq(
      ("a", Some(1L), Some("x"), Some(1.5)),
      ("b", Some(2L), None, Some(-2.25)),
      ("c", None, Some("z"), None)
    ).toDF("k", "v", "s", "d")
    writeDf(df, store, "append")
    val back = reader(store).select($"k", $"v", $"s", $"d").orderBy($"k")
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
    assert(back.toSeq == Seq(
      ("a", Some(1L), Some("x"), Some(1.5)),
      ("b", Some(2L), None, Some(-2.25)),
      ("c", None, Some("z"), None)))
  }

  test("composite row key joins with the separator and splits back") {
    val store = freshStore()
    Seq(("us", "2024", 7L)).toDF("region", "yr", "v")
      .write.format("bigtable")
      .option("store", store).option("table", "t").option("columnFamily", "f")
      .option("partitionCols", "region,yr").option("qualifiers", "v:long")
      .mode("append").save()
    val back = spark.read.format("bigtable")
      .option("store", store).option("table", "t").option("columnFamily", "f")
      .option("partitionCols", "region,yr").option("qualifiers", "v:long")
      .load()
      .where($"region" === "us" && $"yr" === "2024")
      .select($"region", $"yr", $"v").collect()
    assert(back.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("us", "2024", 7L)))
  }

  test("re-running the same append is idempotent (pinned timestamps)") {
    val store = freshStore()
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    writeDf(df, store, "append", quals = "v:long")
    writeDf(df, store, "append", quals = "v:long")
    assert(reader(store, "v:long").count() == 2)
  }

  test("overwrite truncates, append upserts cell-wise") {
    val store = freshStore()
    writeDf(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), store, "append", quals = "v:long")
    writeDf(Seq(("c", 3L)).toDF("k", "v"), store, "overwrite", quals = "v:long")
    assert(reader(store, "v:long").select($"k").as[String].collect().sorted.toSeq == Seq("c"))
    // append over the survivor replaces its cell value (same coordinates)
    writeDf(Seq(("c", 9L)).toDF("k", "v"), store, "append", quals = "v:long")
    val r = reader(store, "v:long").select($"k", $"v").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq == Seq(("c", 9L)))
  }

  test("_timestamp input column writes versions; onlyReadLatest=false reads both") {
    val store = freshStore()
    def at(micros: Long, v: Long) =
      Seq(("a", v)).toDF("k", "v").withColumn("_timestamp", timestamp_micros(lit(micros)))
    writeDf(at(1000L, 1L), store, "append", quals = "v:long")
    writeDf(at(2000L, 2L), store, "append", quals = "v:long")
    val latest = reader(store, "v:long").select($"v").as[Long].collect().toSeq
    assert(latest == Seq(2L))
    val versions = spark.read.format("bigtable")
      .option("store", store).option("table", "t").option("columnFamily", "f")
      .option("partitionCols", "k").option("qualifiers", "v:long")
      .option("onlyReadLatest", "false").option("allowFullScan", "true")
      .load().select(unix_micros($"_timestamp"), $"v").orderBy($"_timestamp")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(versions.toSeq == Seq((1000L, 1L), (2000L, 2L)))
  }

  test("multi-family qualifiers write into their declared family") {
    val store = freshStore()
    Seq(("a", 1L, "m")).toDF("k", "v", "meta")
      .write.format("bigtable")
      .option("store", store).option("table", "t").option("columnFamily", "f")
      .option("partitionCols", "k").option("qualifiers", "v:long,g:meta:string")
      .mode("append").save()
    val back = spark.read.format("bigtable")
      .option("store", store).option("table", "t").option("columnFamily", "f")
      .option("partitionCols", "k").option("qualifiers", "v:long,g:meta:string")
      .option("allowFullScan", "true")
      .load().select($"k", $"v", $"meta").collect()
    assert(back.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq(("a", 1L, "m")))
  }

  test("writeStream.format(bigtable): epochs upsert, replayed data is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val store = freshStore()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    in.addData(("a", 1L), ("b", 2L))
    val cp = java.nio.file.Files.createTempDirectory("bt-stream-write").toString
    def run(): Unit =
      in.toDF().toDF("k", "v").writeStream.format("bigtable")
        .option("store", store).option("table", "t").option("columnFamily", "f")
        .option("partitionCols", "k").option("qualifiers", "v:long")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    run()
    in.addData(("b", 20L), ("c", 3L)) // second epoch updates b, inserts c
    run()
    val back = reader(store, "v:long").select($"k", $"v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(back == Map("a" -> 1L, "b" -> 20L, "c" -> 3L))
  }

  test("SQL INSERT INTO / INSERT OVERWRITE through the TableCatalog") {
    val store = freshStore()
    spark.conf.set("spark.sql.catalog.btw", classOf[BigtableCatalog].getName)
    BigtableCatalogDefs.register("btw", "kv", BigtableConfig(
      storeName = store, table = "t", columnFamily = "f",
      partitionCols = Seq("k"), separator = "#",
      qualifiers = Seq(("v", org.apache.spark.sql.types.LongType)),
      onlyReadLatest = true, allowFullScan = true))
    spark.sql("INSERT INTO btw.default.kv (k, v) VALUES ('a', CAST(1 AS BIGINT))")
    spark.sql("INSERT INTO btw.default.kv (k, v) VALUES ('b', CAST(2 AS BIGINT))")
    val twoRows = spark.sql("SELECT k, v FROM btw.default.kv ORDER BY k").collect()
    assert(twoRows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 1L), ("b", 2L)))
    spark.sql("INSERT OVERWRITE btw.default.kv (k, v) VALUES ('z', CAST(9 AS BIGINT))")
    val afterOverwrite = spark.sql("SELECT k, v FROM btw.default.kv").collect()
    assert(afterOverwrite.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("z", 9L)))
  }

  test("writing to a read-only store is rejected") {
    val name = s"write-spec-ro-${System.identityHashCode(this)}"
    BigtableStores.register(name, new RetryingStore(new ConcurrentBigtable))
    val e = intercept[Exception] {
      Seq(("a", 1L)).toDF("k", "v").write.format("bigtable")
        .option("store", name).option("table", "t").option("columnFamily", "f")
        .option("partitionCols", "k").option("qualifiers", "v:long")
        .mode("append").save()
    }
    assert(e.getMessage != null && e.getMessage.contains("read-only") ||
      Option(e.getCause).exists(_.getMessage.contains("read-only")))
  }

  test("undeclared input column fails driver-side") {
    val store = freshStore()
    val e = intercept[Exception] {
      writeDf(Seq(("a", 1L, 9L)).toDF("k", "v", "mystery"), store, "append", quals = "v:long")
    }
    assert(e.getMessage.contains("not a declared qualifier") ||
      Option(e.getCause).exists(_.getMessage.contains("not a declared qualifier")))
  }

  test("separator inside a composite key component is rejected") {
    val store = freshStore()
    val e = intercept[Exception] {
      Seq(("us#east", "2024", 7L)).toDF("region", "yr", "v")
        .write.format("bigtable")
        .option("store", store).option("table", "t").option("columnFamily", "f")
        .option("partitionCols", "region,yr").option("qualifiers", "v:long")
        .mode("append").save()
    }
    def anyMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("separator")) || anyMsg(t.getCause))
    assert(anyMsg(e))
  }
}

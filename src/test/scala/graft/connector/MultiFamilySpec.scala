package graft.connector

import graft.SparkTestSession
import graft.model.{BtCell, CellCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-column-family tables — extension beyond the reference, which
  * supports exactly one family per table (datasource.rs:28-38).
  * Qualifiers declare their family as `family:name:type`; filters,
  * projection pushdown, and the pivot are all family-scoped.
  */
class MultiFamilySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def seeded(): Unit = {
    val b = new graft.store.ConcurrentBigtable
    Seq(("k1", "alice", 7L, "x"), ("k2", "bob", 9L, "y"), ("k3", "carol", 7L, "z")).foreach {
      case (k, name, score, tag) =>
        b.mutateRows("mf", Seq(k -> Seq(BtCell("meta", "name", 1L, CellCodec.encodeString(name)))))
        b.mutateRows("mf", Seq(k -> Seq(BtCell("stats", "score", 1L, CellCodec.encodeLong(score)))))
        // an UNDECLARED qualifier sharing a declared name but in another
        // family — must never leak into the declared column
        b.mutateRows("mf", Seq(k -> Seq(BtCell("other", "name", 1L, CellCodec.encodeString(tag)))))
    }
    graft.store.BigtableStores.register("mf-store", b)
  }

  private def table() = {
    seeded()
    spark.read.format("bigtable")
      .option("store", "mf-store").option("table", "mf")
      .option("columnFamily", "meta")
      .option("partitionCols", "_row_key")
      .option("qualifiers", "meta:name:string,stats:score:long")
      .option("allowFullScan", "true")
      .load()
  }

  test("qualifiers resolve per family; same-name cells in other families never leak") {
    val rows = table().select(col("_row_key"), col("name"), col("score"))
      .orderBy(col("_row_key")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("k1", "alice", 7L), ("k2", "bob", 9L), ("k3", "carol", 7L)))
  }

  test("family restriction covers exactly the projected families") {
    val fs = RowRangeComposer.composeRowFilters(
      BigtableConfig.fromOptions(java.util.Map.of(
        "store", "mf-store", "table", "mf", "columnFamily", "meta",
        "qualifiers", "meta:name:string,stats:score:long", "allowFullScan", "true")),
      Seq("score"))
    fs.head match {
      case graft.model.RowFilter.FamilyNameRegex(re) =>
        assert(re == java.util.regex.Pattern.quote("stats"), s"got $re")
      case other => fail(s"unexpected head filter: $other")
    }
  }

  test("value pushdown is family-scoped end-to-end") {
    val df = table().where(col("score") === 7L).select(col("_row_key"), col("name"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq(("k1", "alice"), ("k3", "carol")))
  }

  test("duplicate qualifier column names are rejected at parse time") {
    val e = intercept[IllegalArgumentException] {
      BigtableConfig.fromOptions(java.util.Map.of(
        "store", "s", "table", "t", "columnFamily", "f",
        "qualifiers", "a:name:string,b:name:long"))
    }
    assert(e.getMessage.contains("unique"))
  }
}

package graft.connector

import graft.model._
import graft.{Fixtures, SparkTestSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 runtime filtering (SupportsRuntimeV2Filtering): the dynamic
  * analogue of partition pruning — join build-side key values narrow the
  * scan's row ranges after planning.
  */
class RuntimeFilteringSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cfg = BigtableConfig(
    storeName = "rf-store", table = "t", columnFamily = "f",
    partitionCols = Seq("_row_key"), separator = "#",
    qualifiers = Seq(("q", StringType)),
    onlyReadLatest = true, allowFullScan = true)

  private def v2In(col: String, values: String*) = {
    import org.apache.spark.sql.connector.expressions.Expressions
    new org.apache.spark.sql.connector.expressions.filter.Predicate(
      "IN",
      (Expressions.column(col) +: values.map(v =>
        org.apache.spark.sql.graft.ColumnBridge.v2Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(v), StringType)
          : org.apache.spark.sql.connector.expressions.Expression)).toArray)
  }

  test("runtime IN-set intersects planned ranges to point lookups") {
    val comp = RowRangeComposer.Composition(Vector(RowRange.closed("b", "m")), Vector.empty)
    val scan = new BigtableScan(cfg, cfg.schema, comp)
    scan.filter(Array(v2In("_row_key", "c", "k", "z")))
    // "z" is outside [b, m] and must be dropped
    assert(scan.currentRanges == Vector(RowRange.point("c"), RowRange.point("k")))
  }

  test("empty intersection yields zero ranges; untranslatable predicates are ignored") {
    val comp = RowRangeComposer.Composition(Vector(RowRange.closed("b", "m")), Vector.empty)
    val scan = new BigtableScan(cfg, cfg.schema, comp)
    scan.filter(Array(v2In("_row_key", "x", "y")))
    assert(scan.currentRanges.isEmpty)
    assert(scan.planInputPartitions().isEmpty)

    val scan2 = new BigtableScan(cfg, cfg.schema, comp)
    scan2.filter(Array(v2In("other_col", "a")))
    assert(scan2.currentRanges == comp.ranges, "non-key predicate must not narrow")
  }

  test("a pinned LEADING component narrows to prefix ranges") {
    val compositeCfg = cfg.copy(partitionCols = Seq("a", "b"))
    val comp = RowRangeComposer.Composition(Vector(RowRange.full), Vector.empty)
    val scan = new BigtableScan(compositeCfg, compositeCfg.schema, comp)
    scan.filter(Array(v2In("a", "x", "q")))
    // one range per prefix value: [q#, q$) ∪ [x#, x$) ('#'+1 = '$')
    assert(scan.currentRanges == Vector(
      RowRange.closedOpen("q#", "q$"), RowRange.closedOpen("x#", "x$")),
      scan.currentRanges.toString)
  }

  test("prefix narrowing clips to the planned composition") {
    val compositeCfg = cfg.copy(partitionCols = Seq("a", "b"))
    val comp = RowRangeComposer.Composition(
      Vector(RowRange.closed("x#k", "x#p")), Vector.empty)
    val scan = new BigtableScan(compositeCfg, compositeCfg.schema, comp)
    scan.filter(Array(v2In("a", "q", "x")))
    // q's prefix range misses the planned [x#k, x#p]; x's is clipped to it
    assert(scan.currentRanges == Vector(RowRange.closed("x#k", "x#p")),
      scan.currentRanges.toString)
  }

  test("a pinned TRAILING-only component never narrows (cannot factor into ranges)") {
    val compositeCfg = cfg.copy(partitionCols = Seq("a", "b"))
    val comp = RowRangeComposer.Composition(Vector(RowRange.full), Vector.empty)
    val scan = new BigtableScan(compositeCfg, compositeCfg.schema, comp)
    scan.filter(Array(v2In("b", "x")))
    assert(scan.currentRanges == comp.ranges)
  }

  test("non-ASCII prefix values leave the scan unnarrowed (successor not exact)") {
    val compositeCfg = cfg.copy(partitionCols = Seq("a", "b"))
    val comp = RowRangeComposer.Composition(Vector(RowRange.full), Vector.empty)
    val scan = new BigtableScan(compositeCfg, compositeCfg.schema, comp)
    scan.filter(Array(v2In("a", "x", "café")))
    assert(scan.currentRanges == comp.ranges,
      "one unboundable prefix must disable narrowing entirely")
  }

  test("composite keys narrow to the cartesian of point keys when every component is pinned") {
    val compositeCfg = cfg.copy(partitionCols = Seq("a", "b"))
    val comp = RowRangeComposer.Composition(
      Vector(RowRange.closed("1#a", "2#z")), Vector.empty)
    val scan = new BigtableScan(compositeCfg, compositeCfg.schema, comp)
    scan.filter(Array(v2In("a", "1", "2", "9"), v2In("b", "p", "q")))
    // 9#p / 9#q fall outside [1#a, 2#z] and must be dropped
    assert(scan.currentRanges == Vector(
      RowRange.point("1#p"), RowRange.point("1#q"),
      RowRange.point("2#p"), RowRange.point("2#q")))
  }

  test("composite runtime narrowing respects the maxComposedRanges budget") {
    val compositeCfg = cfg.copy(partitionCols = Seq("a", "b"), maxComposedRanges = 3)
    val comp = RowRangeComposer.Composition(Vector(RowRange.full), Vector.empty)
    val scan = new BigtableScan(compositeCfg, compositeCfg.schema, comp)
    scan.filter(Array(v2In("a", "1", "2"), v2In("b", "p", "q")))
    assert(scan.currentRanges == comp.ranges, "4 > budget 3: scan must stay unnarrowed")
  }

  test("e2e composite probe: join on both key components narrows the scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val b = new graft.store.ConcurrentBigtable
    for (a <- Seq("1", "2", "3"); k <- Seq("x", "y")) {
      b.mutateRows("t2", Seq(s"$a#$k" -> Seq(BtCell("f", "q", 1L, CellCodec.encodeString(s"v$a$k")))))
    }
    graft.store.BigtableStores.register("rf-store2", b)
    val fact = spark.read.format("bigtable")
      .option("store", "rf-store2").option("table", "t2")
      .option("columnFamily", "f").option("partitionCols", "a,k")
      .option("qualifiers", "q:string")
      .option("allowFullScan", "true")
      .load()
    import spark.implicits._
    val dimPath = java.nio.file.Files.createTempDirectory("rf-dim2").toString
    Seq(("2", "x"), ("3", "y"), ("9", "x")).toDF("da", "dk")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where($"da" < "9")
    val joined = fact.join(broadcast(dim), fact("a") === dim("da") && fact("k") === dim("dk"))
      .select(col("a"), col("k"), col("q"))
    val rows = joined.collect()
    assert(rows.map(_.getString(2)).sorted.toSeq == Seq("v2x", "v3y"))
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BigtableScan] =
      p.collect {
        case bse: BatchScanExec => bse.scan match {
          case s: BigtableScan => Seq(s)
          case _               => Nil
        }
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec        => allScans(q.plan)
      }.flatten
    val scans = allScans(joined.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a BigtableScan in the plan")
    // cartesian {2,3} x {x,y} = 4 point keys (over-inclusive on purpose:
    // 2#y and 3#x are pruned by the join itself, not the scan)
    assert(scans.head.currentRanges == Vector(
      RowRange.point("2#x"), RowRange.point("2#y"),
      RowRange.point("3#x"), RowRange.point("3#y")),
      s"got ${scans.head.currentRanges}")
  }

  test("e2e prefix probe: join on only the LEADING component narrows to prefix ranges") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val b = new graft.store.ConcurrentBigtable
    for (a <- Seq("1", "2", "3"); k <- Seq("x", "y")) {
      b.mutateRows("t3", Seq(s"$a#$k" -> Seq(BtCell("f", "q", 1L, CellCodec.encodeString(s"v$a$k")))))
    }
    graft.store.BigtableStores.register("rf-store3", b)
    val fact = spark.read.format("bigtable")
      .option("store", "rf-store3").option("table", "t3")
      .option("columnFamily", "f").option("partitionCols", "a,k")
      .option("qualifiers", "q:string")
      .option("allowFullScan", "true")
      .load()
    import spark.implicits._
    val dimPath = java.nio.file.Files.createTempDirectory("rf-dim3").toString
    Seq("2", "3", "9").toDF("da").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where($"da" < "3")
    val joined = fact.join(broadcast(dim), fact("a") === dim("da"))
      .select(col("a"), col("k"), col("q"))
    val rows = joined.collect()
    assert(rows.map(_.getString(2)).sorted.toSeq == Seq("v2x", "v2y"))
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BigtableScan] =
      p.collect {
        case bse: BatchScanExec => bse.scan match {
          case s: BigtableScan => Seq(s)
          case _               => Nil
        }
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec        => allScans(q.plan)
      }.flatten
    val scans = allScans(joined.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a BigtableScan in the plan")
    assert(scans.head.currentRanges == Vector(RowRange.closedOpen("2#", "2$")),
      s"expected the leading-component prefix range, got ${scans.head.currentRanges}")
  }

  test("e2e probe: broadcast join on the row key delivers a runtime filter") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val b = new graft.store.ConcurrentBigtable
    Seq("a", "b", "c", "d", "e").foreach { k =>
      b.mutateRows("t", Seq(k -> Seq(BtCell("f", "q", 1L, CellCodec.encodeString(s"v$k")))))
    }
    graft.store.BigtableStores.register("rf-store", b)
    val fact = spark.read.format("bigtable")
      .option("store", "rf-store").option("table", "t")
      .option("columnFamily", "f").option("partitionCols", "_row_key")
      .option("qualifiers", "q:string")
      .option("allowFullScan", "true")
      .load()
    import spark.implicits._
    // the dim must be file-backed with a surviving Filter node: a local
    // relation gets its filter constant-folded away and DPP then sees no
    // selective predicate on the build side
    val dimPath = java.nio.file.Files.createTempDirectory("rf-dim").toString
    Seq("b", "d", "x").toDF("k").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where($"k" < "x")
    val joined = fact.join(broadcast(dim), fact("_row_key") === dim("k"))
      .select(col("_row_key"), col("q"))
    val rows = joined.collect()
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("vb", "vd"))
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BigtableScan] =
      p.collect {
        case bse: BatchScanExec => bse.scan match {
          case s: BigtableScan => Seq(s)
          case _               => Nil
        }
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec        => allScans(q.plan)
      }.flatten
    val scans = allScans(joined.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a BigtableScan in the plan")
    assert(scans.head.currentRanges == Vector(RowRange.point("b"), RowRange.point("d")),
      s"scan should have been runtime-narrowed to the build side's keys, got ${scans.head.currentRanges}")
  }
}

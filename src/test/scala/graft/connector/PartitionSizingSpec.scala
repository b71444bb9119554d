package graft.connector

import graft.SparkTestSession
import graft.model._
import graft.store.{BigtableStores, ConcurrentBigtable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Scan partitions are sized by work ([[BigtableScan.planPartitions]]):
  * a key set reads in one partition without asking the store for samples
  * or an estimate, and a range scan split at sampled keys fills one wave
  * of `p` tasks (`spark.sql.files.minPartitionNum`, else
  * `defaultParallelism`) unless its estimated bytes call for more
  * `spark.sql.files.maxPartitionBytes`-sized groups.
  */
class PartitionSizingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val users = 2000
  private def user(i: Int) = f"u$i%05d"

  private lazy val bare: ConcurrentBigtable = {
    val store = new ConcurrentBigtable
    store.mutateRows("users", (0 until users).map { i =>
      user(i) -> Seq(BtCell("f", "age", 1L, CellCodec.encodeLong(20L + i % 50)))
    })
    store.mutateRows("vip", (0 until users by 97).map { i =>
      user(i) -> Seq(BtCell("f", "level", 1L, CellCodec.encodeString(if (i % 2 == 0) "gold" else "silver")))
    })
    store
  }

  private lazy val counting: CountingStore = {
    val c = new CountingStore(bare)
    BigtableStores.register("ps-counting", c)
    c
  }

  private def usersTable(opts: (String, String)*): DataFrame =
    spark.read.format("bigtable")
      .options(Map("store" -> "ps-counting", "table" -> "users", "columnFamily" -> "f",
        "qualifiers" -> "age:long") ++ opts)
      .load()

  /** Every Bigtable scan of an executed plan, through AQE stages. */
  private def scans(p: SparkPlan): Seq[BigtableScan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec        => scans(q.plan)
    case b: BatchScanExec if b.scan.isInstanceOf[BigtableScan] => Seq(b.scan.asInstanceOf[BigtableScan])
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Partition groups of a scan; samples and the estimate are memoized
    * per scan, so re-planning asks the store nothing new.
    */
  private def groups(scan: BigtableScan): Vector[Vector[RowRange]] =
    scan.planInputPartitions().toVector.map(_.asInstanceOf[BigtableInputPartition].ranges.toVector)

  private def parallelism: Int = spark.sparkContext.defaultParallelism

  test("a 20-key IN plans one partition with no sample and no estimate call") {
    val keys = (0 until 20).map(i => user(i * 37))
    counting.reset()
    val df = usersTable().where(org.apache.spark.sql.functions.col("_row_key").isin(keys: _*))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == keys.sorted)
    assert(counting.count("sample", "users") == 0)
    assert(counting.count("estimate", "users") == 0)
    val Seq(scan) = scans(df.queryExecution.executedPlan)
    assert(groups(scan) == Vector(keys.sorted.map(RowRange.point).toVector))
  }

  test("the probe side of a runtime-filtered join plans one partition") {
    counting: Unit
    spark.read.format("bigtable")
      .options(Map("store" -> "ps-counting", "table" -> "vip", "columnFamily" -> "f",
        "qualifiers" -> "level:string", "allowFullScan" -> "true"))
      .load().createOrReplaceTempView("ps_vip")
    usersTable("allowFullScan" -> "true").createOrReplaceTempView("ps_users")
    // sorted: an unsorted row-key join of two scans answers on the driver
    val df = spark.sql("SELECT u._row_key, u.age FROM ps_users u JOIN ps_vip v " +
      "ON u._row_key = v._row_key WHERE v.level = 'gold' ORDER BY u._row_key")
    val got = df.collect().map(_.getString(0)).sorted.toSeq
    assert(got == (0 until users by 97).filter(_ % 2 == 0).map(user))
    val probe = scans(df.queryExecution.executedPlan).filter(_.currentRanges.forall(_.isPoint))
    assert(probe.size == 1, s"expected one runtime-narrowed scan:\n${df.queryExecution.executedPlan}")
    val planned = groups(probe.head)
    assert(planned.size == 1)
    assert(planned.head.map(_.startKey).sorted == got)
  }

  test("a full scan over more than p sample intervals plans the rule's count of contiguous partitions") {
    counting.reset()
    val df = usersTable("allowFullScan" -> "true")
    // run as a job: a collect() of a table this small reads on the driver
    assert(df.queryExecution.executedPlan.execute().count() == users)
    assert(counting.count("sample", "users") == 1)
    assert(counting.count("estimate", "users") <= 1)
    val Seq(scan) = scans(df.queryExecution.executedPlan)
    val pieces = BigtableScan.splitRanges(Vector(RowRange.full), bare.sampleRowKeys("users"))
    assert(pieces.size > parallelism, s"${pieces.size} pieces")
    val bytes = bare.estimateSize("users", Seq(RowRange.full)).get._2
    val maxBytes = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    val expected = math.min(pieces.size.toLong, math.max(parallelism.toLong, (bytes + maxBytes - 1) / maxBytes))
    val planned = groups(scan)
    assert(planned.size == expected && expected == parallelism)
    assert(planned.flatten == pieces, "the groups are contiguous and cover the split pieces")
  }

  test("a small spark.sql.files.maxPartitionBytes raises the partition count") {
    val pieces = BigtableScan.splitRanges(Vector(RowRange.full), bare.sampleRowKeys("users"))
    val bytes = bare.estimateSize("users", Seq(RowRange.full)).get._2
    // about ten groups' worth of bytes per split
    val maxBytes = bytes / 10
    spark.conf.set("spark.sql.files.maxPartitionBytes", maxBytes.toString)
    try {
      val df = usersTable("allowFullScan" -> "true")
      assert(df.collect().length == users)
      val Seq(scan) = scans(df.queryExecution.executedPlan)
      val expected = math.min(pieces.size.toLong, (bytes + maxBytes - 1) / maxBytes)
      val planned = groups(scan)
      assert(expected > parallelism)
      assert(planned.size == expected)
      assert(planned.flatten == pieces)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("the removed maxPartitions option fails at load() naming spark.sql.files.maxPartitionBytes") {
    val e = intercept[IllegalArgumentException] {
      usersTable("maxPartitions" -> "8")
    }
    assert(e.getMessage.contains("'maxPartitions'") &&
      e.getMessage.contains("spark.sql.files.maxPartitionBytes"), e.getMessage)
  }
}

package graft.connector

import graft.SparkTestSession
import graft.model._
import graft.store.{BigtableStores, ConcurrentBigtable}
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** `collect()` of a plain Bigtable scan whose ranges are points or whose
  * estimate is at most one batch reads on the driver
  * ([[BigtableCollectExec]]): no Spark job and one `readRows`, with the
  * same rows as the job path. A read longer than one batch, a larger
  * estimate and a sorted runtime-filtered join keep their jobs; the
  * unsorted join reads on the driver ([[BigtableJoinCollectExec]]).
  */
class DriverCollectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val users = 6000
  private def user(i: Int) = f"u$i%05d"

  private lazy val bare: ConcurrentBigtable = {
    val store = new ConcurrentBigtable
    store.mutateRows("users", (0 until users).map { i =>
      user(i) -> Seq(BtCell("f", "age", 1L, CellCodec.encodeLong(20L + i % 50)))
    })
    store.mutateRows("vip", (0 until users by 97).map { i =>
      user(i) -> Seq(BtCell("f", "level", 1L, CellCodec.encodeString(if (i % 2 == 0) "gold" else "silver")))
    })
    store.mutateRows("metrics", for (r <- 0 until 4; h <- 0 until 10; m <- 0 until 60) yield
      f"r$r#h$h#$m%02d" -> Seq(BtCell("f", "cpu", 1L, CellCodec.encodeLong(r * 1000L + h * 60 + m))))
    // 40 rows (too few for samples) of 120 versions: 4800 rows with every version
    store.mutateRows("versions", (0 until 40).map { i =>
      f"v$i%02d" -> (1 to 120).map(ts => BtCell("f", "n", ts.toLong, CellCodec.encodeLong(i * 1000L + ts)))
    })
    store.mutateRows("late", Seq("a", "b").map(k => k -> Seq(BtCell("f", "q", 1L, CellCodec.encodeString(k)))))
    store
  }

  private lazy val counting: CountingStore = {
    val c = new CountingStore(bare)
    BigtableStores.register("dc-counting", c)
    c
  }

  private val jobs = new AtomicInteger
  private lazy val jobListener: SparkListener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def table(name: String, qualifiers: String, opts: (String, String)*): DataFrame =
    spark.read.format("bigtable")
      .options(Map("store" -> "dc-counting", "table" -> name, "columnFamily" -> "f",
        "qualifiers" -> qualifiers) ++ opts)
      .load()

  private def usersTable(opts: (String, String)*): DataFrame = table("users", "age:long", opts: _*)

  /** Run `body` and return its result with the Spark jobs it started and
    * the store calls `method` it made on `table`.
    */
  private def counted[A](table: String, method: String = "readRows")(body: => A): (A, Int, Int) = {
    counting: Unit
    jobListener: Unit
    ListenerDrain.drain(spark.sparkContext)
    counting.reset()
    jobs.set(0)
    val out = body
    ListenerDrain.drain(spark.sparkContext)
    (out, jobs.get, counting.count(method, table))
  }

  private def render(values: Seq[Any]): String = values.map(String.valueOf).mkString(",")

  /** The job path's answer: the executed plan run as an RDD. */
  private def viaJob(df: DataFrame): Seq[String] = {
    val types = df.schema.map(_.dataType)
    df.queryExecution.executedPlan.execute().map(_.copy()).collect().toSeq.map(r => render(r.toSeq(types)))
  }

  /** Every Bigtable scan of an executed plan, through AQE stages. */
  private def scans(p: SparkPlan): Seq[BigtableScan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec        => scans(q.plan)
    case b: BatchScanExec if b.scan.isInstanceOf[BigtableScan] => Seq(b.scan.asInstanceOf[BigtableScan])
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** True when no sample of `table` lies inside any of the scan's ranges. */
  private def unsplit(df: DataFrame, table: String): Boolean = {
    val Seq(scan) = scans(df.queryExecution.executedPlan)
    BigtableScan.splitRanges(scan.currentRanges, bare.sampleRowKeys(table)).size == scan.currentRanges.size
  }

  /** `df` collects with no job and one `readRows`, equal to the job path. */
  private def assertDriverCollect(df: DataFrame, table: String, expected: Seq[String]): Unit = {
    assert(df.queryExecution.executedPlan.isInstanceOf[BigtableCollectExec], df.queryExecution.executedPlan)
    val (rows, nJobs, reads) = counted(table)(df.collect().toSeq.map(r => render(r.toSeq)))
    assert(nJobs == 0, "a driver-side collect runs no job")
    assert(reads == 1, "a driver-side collect is one ReadRows")
    assert(rows == expected)
    assert(rows == viaJob(df))
  }

  test("= on the row key collects on the driver") {
    val df = usersTable().where(col("_row_key") === user(42)).select("_row_key", "age")
    assertDriverCollect(df, "users", Seq(s"${user(42)},${20 + 42 % 50}"))
  }

  test("IN on the row key collects on the driver") {
    val keys = (0 until 20).map(i => user(i * 37))
    val df = usersTable().where(col("_row_key").isin(keys: _*)).select("_row_key", "age")
    assertDriverCollect(df, "users", keys.sorted.map(k => s"$k,${20 + k.drop(1).toInt % 50}"))
  }

  test("a BETWEEN with no sample inside collects on the driver") {
    val df = usersTable().where(col("_row_key").between(user(10), user(50)))
      .select(col("_row_key"), (col("age") + 1).as("next_age"))
    assert(unsplit(df, "users"))
    assertDriverCollect(df, "users", (10 to 50).map(i => s"${user(i)},${21 + i % 50}"))
  }

  test("a composite =, IN and tail BETWEEN collects on the driver") {
    val df = table("metrics", "cpu:long", "partitionCols" -> "region,host,minute")
      .where(col("region") === "r1" && col("host").isin("h2", "h5") && col("minute").between("10", "20"))
      .select("host", "minute", "cpu")
    assert(unsplit(df, "metrics"))
    val expected = for (h <- Seq(2, 5); m <- 10 to 20) yield f"h$h,$m%02d,${1000 + h * 60 + m}"
    assertDriverCollect(df, "metrics", expected)
  }

  test("a read longer than one batch falls back to the job and closes its reader") {
    val df = table("versions", "n:long", "onlyReadLatest" -> "false")
      .where(col("_row_key").between("v00", "v39")).select("_row_key", "n")
    assert(unsplit(df, "versions"))
    val (rows, nJobs, reads) = counted("versions")(df.collect().toSeq.map(r => render(r.toSeq)))
    assert(nJobs >= 1, "more than MaxBatchRows rows run the job")
    assert(reads == 2, "the dropped driver read plus the job's one partition")
    assert(counting.count("close", "versions") == reads, "every reader released its scan")
    val expected = for (i <- 0 until 40; ts <- 1 to 120) yield f"v$i%02d,${i * 1000L + ts}"
    assert(rows.size == 40 * 120 && rows.size > BigtableColumnarPartitionReader.MaxBatchRows)
    assert(rows == expected)
  }

  test("a 901-row BETWEEN with samples inside collects on the driver") {
    val df = usersTable().where(col("_row_key").between(user(100), user(1000))).select("_row_key", "age")
    assert(!unsplit(df, "users"), "the store samples keys inside the range")
    assertDriverCollect(df, "users", (100 to 1000).map(i => s"${user(i)},${20 + i % 50}"))
  }

  test("a scan split by samples runs the job path and makes no driver read") {
    val df = usersTable().where(col("_row_key").between(user(100), user(5000))).select("_row_key", "age")
    assert(!unsplit(df, "users"))
    val Seq(scan) = scans(df.queryExecution.executedPlan)
    assert(scan.estimatedRows.exists(_ > BigtableColumnarPartitionReader.MaxBatchRows),
      "an estimate past one batch is not read on the driver")
    val partitions = scan.planInputPartitions().length
    val (rows, nJobs, reads) = counted("users")(df.collect().length)
    assert(rows == 4901)
    assert(nJobs == 1)
    assert(reads == partitions, "one read per partition, none on the driver")
  }

  test("explain() reads nothing; a second collect after a write sees the new row") {
    val df = table("late", "q:string").where(col("_row_key").isin("a", "z")).select("_row_key", "q")
    val (_, explainJobs, explainReads) = counted("late")(df.explain())
    assert(explainJobs == 0 && explainReads == 0)
    assertDriverCollect(df, "late", Seq("a,a"))
    bare.mutateRows("late", Seq("z" -> Seq(BtCell("f", "q", 1L, CellCodec.encodeString("z")))))
    assertDriverCollect(df, "late", Seq("a,a", "z,z"))
  }

  test("a DPP join keeps its jobs, reuses the broadcast and probes only the build side's keys") {
    usersTable("allowFullScan" -> "true").createOrReplaceTempView("dc_users")
    table("vip", "level:string", "allowFullScan" -> "true").createOrReplaceTempView("dc_vip")
    // a Sort root stays Spark's plan; the unsorted join reads on the driver (below)
    val df = spark.sql("SELECT u._row_key, u.age FROM dc_users u JOIN dc_vip v " +
      "ON u._row_key = v._row_key WHERE v.level = 'gold' ORDER BY u._row_key")
    val gold = (0 until users by 97).filter(_ % 2 == 0).map(user)
    val (rows, nJobs, _) = counted("users")(df.collect().map(_.getString(0)).sorted.toSeq)
    assert(rows == gold)
    assert(nJobs >= 1)
    val plan = df.queryExecution.explainString(FormattedMode)
    assert(plan.contains("ReusedExchange"), plan)
    val probe = scans(df.queryExecution.executedPlan).filter(_.currentRanges.forall(_.isPoint))
    assert(probe.size == 1, plan)
    assert(probe.head.currentRanges == gold.map(RowRange.point).toVector)
  }

  test("an unsorted DPP join answers on the driver with one ReadRows per table") {
    usersTable("allowFullScan" -> "true").createOrReplaceTempView("dc_users")
    table("vip", "level:string", "allowFullScan" -> "true").createOrReplaceTempView("dc_vip")
    val df = spark.sql("SELECT u._row_key, u.age FROM dc_users u JOIN dc_vip v " +
      "ON u._row_key = v._row_key WHERE v.level = 'gold'")
    assert(df.queryExecution.executedPlan.isInstanceOf[BigtableJoinCollectExec], df.queryExecution.executedPlan)
    val gold = (0 until users by 97).filter(_ % 2 == 0)
    val (rows, nJobs, reads) = counted("users")(df.collect().toSeq.map(r => render(r.toSeq)).sorted)
    assert(nJobs == 0)
    assert(reads == 1 && counting.count("readRows", "vip") == 1)
    assert(counting.count("sample", "users") == 0 && counting.count("sample", "vip") == 0)
    assert(rows == gold.map(i => s"${user(i)},${20 + i % 50}"))
    assert(rows == viaJob(df).sorted)
  }
}

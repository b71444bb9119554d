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
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** `collect()` of an inner or left-semi join of two Bigtable scans on
  * one side's leading row-key columns answers on the driver
  * ([[BigtableJoinCollectExec]]): no Spark job, one `readRows` per table,
  * and the rows Spark's own plan returns. A side that reads past one
  * batch runs Spark's plan, with its runtime filter.
  */
class DriverJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val users = 6000
  private def user(i: Int) = f"u$i%05d"
  private def age(i: Int) = 20 + i % 50

  /** Order `o` names user `orderUser(o)`: a duplicate for most orders, no
    * cell (NULL) for every seventh, and an absent key for every eleventh.
    */
  private val orders = 60
  private def orderUser(o: Int): Option[String] =
    if (o % 7 == 0) None else if (o % 11 == 0) Some(f"x$o%05d") else Some(user((o % 9) * 13))
  private def amount(o: Int) = 10L + o

  private lazy val bare: ConcurrentBigtable = {
    val store = new ConcurrentBigtable
    store.mutateRows("users", (0 until users).map { i =>
      user(i) -> Seq(BtCell("f", "age", 1L, CellCodec.encodeLong(age(i).toLong)))
    })
    store.mutateRows("vip", (0 until users by 97).map { i =>
      user(i) -> Seq(BtCell("f", "level", 1L, CellCodec.encodeString(if (i % 2 == 0) "gold" else "silver")))
    })
    // 960 rows: enough for the store to sample keys inside the full range
    store.mutateRows("vip960", (0 until 960).map { j =>
      user(j * 6) -> Seq(BtCell("f", "level", 1L, CellCodec.encodeString(if (j % 3 == 0) "gold" else "silver")))
    })
    store.mutateRows("orders", (0 until orders).map { o =>
      f"o$o%03d" -> (BtCell("f", "amount", 1L, CellCodec.encodeLong(amount(o))) +:
        orderUser(o).toSeq.map(u => BtCell("f", "user", 1L, CellCodec.encodeString(u))))
    })
    store.mutateRows("metrics", for (r <- 0 until 4; h <- 0 until 10; m <- 0 until 60) yield
      f"r$r#h$h#$m%02d" -> Seq(BtCell("f", "cpu", 1L, CellCodec.encodeLong(r * 1000L + h * 60 + m))))
    store.mutateRows("hosts", for (r <- 0 until 4; h <- 0 until 10) yield
      s"r$r#h$h" -> Seq(BtCell("f", "rack", 1L, CellCodec.encodeString(if ((r + h) % 5 == 0) "a" else "b"))))
    // 40 rows (too few for samples) of 120 versions
    store.mutateRows("versions", (0 until 40).map { i =>
      f"v$i%02d" -> (1 to 120).map(ts => BtCell("f", "n", ts.toLong, CellCodec.encodeLong(i * 1000L + ts)))
    })
    store.mutateRows("pick", (0 until 38).map { i =>
      f"v$i%02d" -> Seq(BtCell("f", "tag", 1L, CellCodec.encodeString(if (i < 36) "keep" else "drop")))
    })
    store
  }

  private lazy val counting: CountingStore = {
    val c = new CountingStore(bare)
    BigtableStores.register("dj-counting", c)
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

  private def view(name: String, table: String, qualifiers: String, opts: (String, String)*): Unit =
    spark.read.format("bigtable")
      .options(Map("store" -> "dj-counting", "table" -> table, "columnFamily" -> "f",
        "qualifiers" -> qualifiers, "allowFullScan" -> "true") ++ opts)
      .load().createOrReplaceTempView(name)

  private def views(): Unit = {
    counting: Unit
    view("dj_users", "users", "age:long")
    view("dj_vip", "vip", "level:string")
    view("dj_vip960", "vip960", "level:string")
    view("dj_orders", "orders", "user:string,amount:long")
    view("dj_metrics", "metrics", "cpu:long", "partitionCols" -> "region,host,minute")
    view("dj_hosts", "hosts", "rack:string", "partitionCols" -> "region,host")
    view("dj_versions", "versions", "n:long", "onlyReadLatest" -> "false")
    view("dj_pick", "pick", "tag:string")
  }

  private def render(values: Seq[Any]): String = values.map(String.valueOf).mkString(",")

  /** Run `body` and return its result with the Spark jobs it started;
    * the store counters restart with it.
    */
  private def counted[A](body: => A): (A, Int) = {
    jobListener: Unit
    ListenerDrain.drain(spark.sparkContext)
    counting.reset()
    jobs.set(0)
    val out = body
    ListenerDrain.drain(spark.sparkContext)
    (out, jobs.get)
  }

  private def collected(df: DataFrame): Seq[String] = df.collect().toSeq.map(r => render(r.toSeq)).sorted

  /** Spark's own plan's answer: the executed plan run as an RDD. */
  private def viaJob(df: DataFrame): Seq[String] = {
    val types = df.schema.map(_.dataType)
    df.queryExecution.executedPlan.execute().map(_.copy()).collect().toSeq.map(r => render(r.toSeq(types))).sorted
  }

  /** Every Bigtable scan of an executed plan, through AQE stages and the
    * join node's Spark plan.
    */
  private def scans(p: SparkPlan): Seq[BigtableScan] = p match {
    case j: BigtableJoinCollectExec => j.innerChildren.collect { case s: SparkPlan => s }.flatMap(scans)
    case a: AdaptiveSparkPlanExec   => scans(a.executedPlan)
    case q: QueryStageExec          => scans(q.plan)
    case b: BatchScanExec if b.scan.isInstanceOf[BigtableScan] => Seq(b.scan.asInstanceOf[BigtableScan])
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** `sql` collects with no job and one `readRows` on each of `tables`,
    * equal to `expected` and to Spark's plan.
    */
  private def assertDriverJoin(sql: String, tables: Seq[String], expected: Seq[String]): Unit = {
    views()
    val df = spark.sql(sql)
    assert(df.queryExecution.executedPlan.isInstanceOf[BigtableJoinCollectExec], df.queryExecution.executedPlan)
    val (rows, nJobs) = counted(collected(df))
    assert(nJobs == 0, "a driver-side join runs no job")
    tables.foreach { t =>
      assert(counting.count("readRows", t) == 1, s"one ReadRows on $t")
      assert(counting.count("close", t) == 1, s"the $t reader is closed")
    }
    assert(rows == expected.sorted)
    assert(rows == viaJob(df))
  }

  private val gold = (0 until users by 97).filter(_ % 2 == 0)

  test("an inner join on the row key answers on the driver") {
    assertDriverJoin(
      "SELECT u._row_key, u.age, v.level FROM dj_users u JOIN dj_vip v ON u._row_key = v._row_key " +
        "WHERE v.level = 'gold'",
      Seq("users", "vip"), gold.map(i => s"${user(i)},${age(i)},gold"))
  }

  test("a collect answered on the driver never prepares Spark's plan; explain still shows it") {
    views()
    val df = spark.sql("SELECT u._row_key, u.age, v.level FROM dj_users u JOIN dj_vip v " +
      "ON u._row_key = v._row_key WHERE v.level = 'gold'")
    val node = df.queryExecution.executedPlan.asInstanceOf[BigtableJoinCollectExec]
    val fallback = classOf[BigtableJoinCollectExec].getDeclaredField("sparkPlan")
    fallback.setAccessible(true)
    val (rows, nJobs) = counted(collected(df))
    assert(nJobs == 0 && rows == gold.map(i => s"${user(i)},${age(i)},gold").sorted)
    assert(fallback.get(node) == null, "the driver-side collect prepared Spark's plan")
    val explained = df.queryExecution.explainString(FormattedMode)
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findFirstIn(explained).nonEmpty, explained)
    assert(fallback.get(node) != null)
  }

  test("a left-semi join on the row key answers on the driver") {
    assertDriverJoin(
      "SELECT u._row_key, u.age FROM dj_users u LEFT SEMI JOIN dj_vip v " +
        "ON u._row_key = v._row_key AND v.level = 'gold'",
      Seq("users", "vip"), gold.map(i => s"${user(i)},${age(i)}"))
  }

  private def ordersJoined(keep: (Int, Int) => Boolean): Seq[String] =
    for {
      o <- 0 until orders
      u <- orderUser(o).toSeq
      i <- (0 until users).find(user(_) == u).toSeq
      if keep(o, i)
    } yield f"o$o%03d,${amount(o)},${age(i)}"

  test("duplicate and null keys on the side read first") {
    assert((1 until orders).map(orderUser).count(_ == orderUser(1)) > 1 && orderUser(0).isEmpty)
    assertDriverJoin(
      "SELECT o._row_key, o.amount, u.age FROM dj_orders o JOIN dj_users u ON o.user = u._row_key",
      Seq("orders", "users"), ordersJoined((_, _) => true))
  }

  test("keys absent from the other table match nothing") {
    val absent = (0 until orders).filter(o => orderUser(o).exists(_.startsWith("x")))
    assert(absent.nonEmpty)
    assertDriverJoin(
      "SELECT o._row_key, o.amount, u.age FROM dj_orders o JOIN dj_users u ON o.user = u._row_key " +
        s"WHERE o.user IS NOT NULL AND o._row_key IN (${absent.map(o => f"'o$o%03d'").mkString(", ")}, 'o001')",
      Seq("orders", "users"), ordersJoined((o, _) => o == 1))
  }

  test("a residual join condition filters the matched pairs") {
    assertDriverJoin(
      "SELECT o._row_key, o.amount, u.age FROM dj_orders o JOIN dj_users u " +
        "ON o.user = u._row_key AND o.amount > u.age + 15",
      Seq("orders", "users"), ordersJoined((o, i) => amount(o) > age(i) + 15))
  }

  test("a join on two leading components of a composite key reads prefix ranges") {
    val racked = for (r <- 0 until 4; h <- 0 until 10 if (r + h) % 5 == 0) yield (r, h)
    assertDriverJoin(
      "SELECT m.region, m.host, m.minute, m.cpu FROM dj_metrics m JOIN dj_hosts h " +
        "ON m.region = h.region AND m.host = h.host WHERE h.rack = 'a' AND m.minute < '03'",
      Seq("metrics", "hosts"),
      for ((r, h) <- racked; m <- 0 until 3) yield f"r$r,h$h,$m%02d,${r * 1000 + h * 60 + m}")
  }

  test("a 960-row side with sampled keys inside its range is read first") {
    val samples = bare.sampleRowKeys("vip960")
    assert(BigtableScan.splitRanges(Vector(RowRange.full), samples).size > 1, "vip960 would split")
    assertDriverJoin(
      "SELECT u._row_key, u.age FROM dj_users u JOIN dj_vip960 v ON u._row_key = v._row_key " +
        "WHERE v.level = 'gold'",
      Seq("users", "vip960"), (0 until 960 by 3).map(j => s"${user(j * 6)},${age(j * 6)}"))
  }

  test("a narrowed side past one batch runs Spark's plan, narrowed at runtime") {
    views()
    val df = spark.sql("SELECT v._row_key, v.n FROM dj_versions v JOIN dj_pick p " +
      "ON v._row_key = p._row_key WHERE p.tag = 'keep'")
    assert(df.queryExecution.executedPlan.isInstanceOf[BigtableJoinCollectExec])
    val (rows, nJobs) = counted(collected(df))
    val expected = (for (i <- 0 until 36; ts <- 1 to 120) yield f"v$i%02d,${i * 1000L + ts}").sorted
    assert(expected.size > BigtableColumnarPartitionReader.MaxBatchRows)
    assert(rows == expected)
    assert(nJobs >= 1, "Spark's plan runs jobs")
    for (t <- Seq("versions", "pick")) {
      assert(counting.count("readRows", t) >= 2, s"the dropped driver read of $t plus Spark's")
      assert(counting.count("close", t) == counting.count("readRows", t), s"every $t reader is closed")
    }
    val probe = scans(df.queryExecution.executedPlan).filter(_.currentRanges.forall(_.isPoint))
    assert(probe.size == 1, df.queryExecution.executedPlan)
    assert(probe.head.currentRanges == (0 until 36).map(i => RowRange.point(f"v$i%02d")).toVector)
  }

  test("explain() reads nothing; a second collect after a write on either table sees the new row") {
    bare.mutateRows("fresh_users", (0 until 100).map(i =>
      user(i) -> Seq(BtCell("f", "age", 1L, CellCodec.encodeLong(age(i).toLong)))))
    bare.mutateRows("fresh_vip", Seq(user(3), user(5)).map(k =>
      k -> Seq(BtCell("f", "level", 1L, CellCodec.encodeString("gold")))))
    views()
    view("dj_fresh_users", "fresh_users", "age:long")
    view("dj_fresh_vip", "fresh_vip", "level:string")
    val df = spark.sql("SELECT u._row_key, u.age FROM dj_fresh_users u JOIN dj_fresh_vip v " +
      "ON u._row_key = v._row_key WHERE v.level = 'gold'")
    val (_, explainJobs) = counted(df.explain())
    assert(explainJobs == 0)
    assert(Seq("fresh_users", "fresh_vip").forall(t => counting.count("readRows", t) == 0))
    def assertFresh(expected: Seq[String]): Unit = {
      val (rows, nJobs) = counted(collected(df))
      assert(nJobs == 0)
      assert(Seq("fresh_users", "fresh_vip").forall(t => counting.count("readRows", t) == 1))
      assert(rows == expected.sorted)
    }
    val before = Seq(s"${user(3)},${age(3)}", s"${user(5)},${age(5)}")
    assertFresh(before)
    bare.mutateRows("fresh_vip", Seq(user(8) -> Seq(BtCell("f", "level", 1L, CellCodec.encodeString("gold")))))
    assertFresh(before :+ s"${user(8)},${age(8)}")
    bare.mutateRows("fresh_users", Seq(user(500) -> Seq(BtCell("f", "age", 1L, CellCodec.encodeLong(7L)))))
    bare.mutateRows("fresh_vip", Seq(user(500) -> Seq(BtCell("f", "level", 1L, CellCodec.encodeString("gold")))))
    assertFresh(before ++ Seq(s"${user(8)},${age(8)}", s"${user(500)},7"))
  }
}

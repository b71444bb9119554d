package graft.connector

import graft.SparkTestSession
import graft.model._
import graft.store.{BigtableStores, ConcurrentBigtable}
import org.scalatest.funsuite.AnyFunSuite

/** The scan-planning contract, counted at the store: planning makes no
  * `sampleRowKeys` round trip (only a job's partition plan samples), and
  * a scan asks for at most one `sampleRowKeys` and one `estimateSize`.
  * A key set, or a range whose estimate is one batch, then collects on
  * the driver with no samples at all. Each query runs through a counting
  * decorator and again through the bare store; the answers must agree.
  */
class PlanningRoundTripsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val users = 2000
  private def user(i: Int) = f"u$i%05d"

  /** One seeded store, registered bare and behind the counter. */
  private lazy val counting: CountingStore = {
    val store = new ConcurrentBigtable
    store.mutateRows("users", (0 until users).map { i =>
      user(i) -> Seq(BtCell("f", "age", 1L, CellCodec.encodeLong(20L + i % 50)))
    })
    store.mutateRows("vip", (0 until users by 97).map { i =>
      user(i) -> Seq(BtCell("f", "level", 1L, CellCodec.encodeString(if (i % 2 == 0) "gold" else "silver")))
    })
    BigtableStores.register("prt-bare", store)
    val counted = new CountingStore(store)
    BigtableStores.register("prt-counting", counted)
    counted
  }

  /** The same views over both stores, named with a per-store suffix. */
  private def registerViews(): Unit = {
    counting: Unit
    for ((store, suffix) <- Seq("prt-bare" -> "bare", "prt-counting" -> "counted")) {
      def view(name: String, opts: (String, String)*): Unit =
        spark.read.format("bigtable")
          .options(Map("store" -> store, "columnFamily" -> "f") ++ opts)
          .load().createOrReplaceTempView(s"${name}_$suffix")
      view("users", "table" -> "users", "qualifiers" -> "age:long")
      view("users_fs", "table" -> "users", "qualifiers" -> "age:long", "allowFullScan" -> "true")
      view("vip", "table" -> "vip", "qualifiers" -> "level:string", "allowFullScan" -> "true")
    }
  }

  /** Run `sql` (with `$v` standing for the view suffix) on the counting
    * store, check it against the bare store, and return the counted
    * run's executed plan.
    */
  private def runCounted(sql: String): String = {
    registerViews()
    val expected = spark.sql(sql.replace("$v", "bare")).collect().map(_.toString).sorted.toSeq
    counting.reset()
    val df = spark.sql(sql.replace("$v", "counted"))
    val got = df.collect().map(_.toString).sorted.toSeq
    assert(got == expected, s"counted run differs from the bare run for: $sql")
    assert(got.nonEmpty, s"query should return rows: $sql")
    df.queryExecution.executedPlan.toString
  }

  /** (sampleRowKeys, estimateSize) calls on `table` for one query. */
  private def counted(sql: String, table: String): (Int, Int) = {
    runCounted(sql): Unit
    (counting.count("sample", table), counting.count("estimate", table))
  }

  test("a point lookup plans with no sampleRowKeys call") {
    val (samples, estimates) = counted(s"SELECT _row_key, age FROM users_$$v WHERE _row_key = '${user(42)}'", "users")
    assert(samples == 0)
    assert(estimates <= 1)
  }

  test("a 20-key IN list plans with no sampleRowKeys call") {
    val keys = (0 until 20).map(i => s"'${user(i * 37)}'").mkString(", ")
    val (samples, estimates) = counted(s"SELECT _row_key, age FROM users_$$v WHERE _row_key IN ($keys)", "users")
    assert(samples == 0)
    assert(estimates <= 1)
  }

  test("a BETWEEN plans with no sampleRowKeys call and at most one estimateSize") {
    val (samples, estimates) = counted(
      s"SELECT _row_key, age FROM users_$$v WHERE _row_key BETWEEN '${user(100)}' AND '${user(900)}'", "users")
    assert(samples == 0)
    assert(estimates <= 1)
  }

  test("a prefix LIKE plans with no sampleRowKeys call and at most one estimateSize") {
    val (samples, estimates) = counted("SELECT _row_key, age FROM users_$v WHERE _row_key LIKE 'u01%'", "users")
    assert(samples == 0)
    assert(estimates <= 1)
  }

  test("a DPP join asks each scan for its samples at most once") {
    val sql = "SELECT u._row_key, u.age FROM users_fs_$v u JOIN vip_$v v ON u._row_key = v._row_key " +
      "WHERE v.level = 'gold'"
    val plan = runCounted(sql)
    assert(plan.contains("dynamicpruningexpression"), s"expected a runtime filter on the users scan:\n$plan")
    assert(counting.count("sample", "users") <= 1)
    assert(counting.count("sample", "vip") <= 1)
    assert(counting.count("estimate", "users") <= 1)
    assert(counting.count("estimate", "vip") <= 1)
  }
}

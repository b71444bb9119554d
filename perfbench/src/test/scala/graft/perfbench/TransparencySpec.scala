package graft.perfbench

import graft.store.BigtableStores

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The traced mode's probes must not change what the program answers. */
class TransparencySpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")

  override def afterAll(): Unit = spark.stop()

  test("query results are identical with and without the store decorator and listener") {
    val sizes = Gen.Sizes(regions = 2, hosts = 4, minutes = 40, users = 400, vips = 40,
      levels = 4, cities = 6, countries = 3)
    val t = new Gen.Tables(11, sizes)
    val d = new Deployment(Workloads.StoreName)
    try {
      d.seed(t.all.flatMap { case (table, n, row) =>
        (0 until n).grouped(100).map(is => table -> is.map(row)).toSeq
      }, threads = 2)
      QueryWorkload.registerViews(spark)
      val queries = (0 until 12).map(Gen.pointQuery(t, _)) ++ (0 until 8).map(Gen.scanQuery(t, _))
      val plain = queries.map(q => QueryWorkload.answer(spark, q.sql))

      val tracer = new Tracer
      val listener = new BenchListener(tracer)
      BigtableStores.register(Workloads.StoreName, new TracingStore(d.client, tracer))
      spark.sparkContext.addSparkListener(listener)
      tracer.op = 0
      val traced =
        try queries.map(q => QueryWorkload.answer(spark, q.sql))
        finally spark.sparkContext.removeSparkListener(listener)

      assert(plain == queries.map(_.expected))
      assert(traced == plain)
      assert(tracer.counter(0, "store.read_calls") > 0, "the decorator saw no reads")
    } finally d.close()
  }
}

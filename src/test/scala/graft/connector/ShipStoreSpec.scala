package graft.connector

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import graft.SparkTestSession
import graft.model.{BtCell, CellCodec}
import graft.store.{BigtableStores, ConcurrentBigtable}
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-deployable reader resolution: with `shipStore=true` the
  * registered store handle is serialized into the scan, so an executor
  * JVM that never saw `BigtableStores.register` still reads — the Spark
  * analogue of the reference's executor-side connection open
  * (datasource.rs:81-88). These specs simulate the non-shared JVM by
  * clearing the registry between planning and execution, and by
  * java-serializing the reader factory round-trip (exactly what Spark
  * does to ship it into a task binary).
  */
class ShipStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def seed(name: String): ConcurrentBigtable = {
    val store = new ConcurrentBigtable
    store.mutateRows("t", (1 to 9).map { i =>
      f"k$i%02d" -> Seq(BtCell("f", "q", 1000L + i, CellCodec.encodeLong(i.toLong)))
    })
    BigtableStores.register(name, store)
    store
  }

  private def reader(name: String) =
    spark.read
      .format("bigtable")
      .option("store", name)
      .option("table", "t")
      .option("columnFamily", "f")
      .option("qualifiers", "q:long")
      .option("shipStore", "true")

  test("e2e: registry cleared after load(), scan still reads via the shipped store") {
    val name = "ship_e2e"
    seed(name)
    try {
      // load() creates the Table on the driver and captures the handle
      val df = reader(name).load().where("_row_key IN ('k02','k05','k08')")
      BigtableStores.unregister(name)
      assert(!BigtableStores.contains(name))
      val got = df.select("_row_key", "q").collect().map(r => (r.getString(0), r.getLong(1))).sorted
      assert(got.toSeq == Seq(("k02", 2L), ("k05", 5L), ("k08", 8L)))
    } finally BigtableStores.unregister(name)
  }

  test("reader factory java-serialization round trip resolves without the registry") {
    val name = "ship_rt"
    val store = seed(name)
    try {
      val cfg = BigtableConfig(
        storeName = name, table = "t", columnFamily = "f",
        partitionCols = Seq("_row_key"), separator = "#",
        qualifiers = Seq(("q", LongType)),
        onlyReadLatest = true, allowFullScan = true,
        shipStore = true)
      val factory = new BigtablePartitionReaderFactory(
        cfg, cfg.schema, Nil, None, Some(store))
      // Spark ships the factory by java serialization inside the task
      // binary; reproduce that round trip byte-for-byte.
      val bos = new ByteArrayOutputStream()
      val oos = new ObjectOutputStream(bos)
      oos.writeObject(factory)
      oos.close()
      val revived = new ObjectInputStream(new ByteArrayInputStream(bos.toByteArray))
        .readObject()
        .asInstanceOf[BigtablePartitionReaderFactory]

      BigtableStores.unregister(name) // simulate the fresh executor JVM
      val r = revived.createColumnarReader(
        BigtableInputPartition(Seq(graft.model.RowRange.closed("k03", "k04"))))
      val keys = Iterator.continually(r).takeWhile(_.next())
        .flatMap(b => (0 until b.get().numRows()).map(b.get().column(0).getUTF8String(_).toString)).toList
      r.close()
      assert(keys == List("k03", "k04"))
      // the deserialized handle is installed so sibling tasks share it
      assert(BigtableStores.contains(name))
    } finally BigtableStores.unregister(name)
  }

  test("without shipStore the registry miss still fails fast, naming the remedy") {
    val name = "ship_off"
    seed(name)
    try {
      val df = reader(name).option("shipStore", "false").load().where("_row_key = 'k01'")
      BigtableStores.unregister(name)
      val e = intercept[org.apache.spark.SparkException] { df.collect() }
      val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
      assert(msg.contains("shipStore=true"))
    } finally BigtableStores.unregister(name)
  }

  test("the shipped store also serves planning: sampleRowKeys and statistics") {
    val name = "ship_plan"
    val store = seed(name)
    try {
      val cfg = BigtableConfig(
        storeName = name, table = "t", columnFamily = "f",
        partitionCols = Seq("_row_key"), separator = "#",
        qualifiers = Seq(("q", LongType)),
        onlyReadLatest = true, allowFullScan = true,
        shipStore = true)
      val comp = RowRangeComposer.Composition(Vector(graft.model.RowRange.full), Vector.empty)
      val scan = new BigtableScan(cfg, cfg.schema, comp, None, None, Array.empty, Some(store))
      BigtableStores.unregister(name)
      assert(scan.estimateStatistics().numRows().getAsLong == 9L)
      assert(scan.planInputPartitions().nonEmpty)
    } finally BigtableStores.unregister(name)
  }
}

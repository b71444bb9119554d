package graft.connector

import graft.{GraftTables, SparkEntry}
import graft.store.{BigtableStores, ProtoSocketBigtableServer}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Process-boundary certification of the whole connector gate suite:
  * every `bt_*` gate must return identical results when the fixture
  * store is resolved through a [[graft.store.ProtoSocketBigtableStore]]
  * — every `readRows` / `sampleRowKeys` / `estimateSize` crossing the
  * wire as REAL Bigtable v2 protobuf bytes in gRPC frame layout
  * ([[graft.store.ReadRowsProto]]). The swap is a registry
  * re-registration under the SAME store name, so no gate code changes.
  * This certifies the bytes the connector produces and consumes are the
  * production wire contract; only the HTTP/2 channel itself is swapped
  * for plain TCP.
  *
  * Gates that build their OWN stores (write roundtrips, retry
  * injection) keep them — the suite proves the shared fixture path;
  * their store wiring is their own test subject.
  */
class ProtoGateParitySpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val btGates: Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("bt_")).toSeq.sorted

  private def withProtoStore[A](body: => A): A = {
    GraftTables.ensure(spark, sf)
    val name = GraftTables.storeName(sf)
    val original = BigtableStores.get(name)
    val server = new ProtoSocketBigtableServer(original)
    BigtableStores.register(name, server.clientStore)
    try body
    finally {
      BigtableStores.register(name, original)
      server.close()
    }
  }

  test("every bt_* gate returns identical results through the protobuf wire transport") {
    assert(btGates.size >= 30, s"gate surface shrank? $btGates")
    val baseline = btGates.map { name =>
      name -> sortedRows(SparkEntry.queries(name)(spark, sf))
    }.toMap
    val failures = withProtoStore {
      btGates.flatMap { name =>
        val remote = sortedRows(SparkEntry.queries(name)(spark, sf))
        if (remote == baseline(name)) None
        else Some(s"$name: in-jvm=${baseline(name).size} rows, proto=${remote.size} rows, " +
          s"first diff=${baseline(name).zipAll(remote, "<missing>", "<missing>")
            .find(p => p._1 != p._2)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

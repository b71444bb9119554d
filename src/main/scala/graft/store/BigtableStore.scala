package graft.store

import graft.model._

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Storage abstraction standing in for the Bigtable service.
  *
  * Mirrors the single call the reference issues — one `ReadRows` gRPC
  * request carrying row ranges plus a chain of server-side filters
  * (reference: src/execute_plan.rs:169-183). A production deployment
  * would implement this trait with a gRPC client whose channel is
  * opened lazily on the executor (inside `PartitionReader` creation);
  * [[ConcurrentBigtable]] is the in-process emulator every test, fixture
  * and benchmark seeds.
  */
trait BigtableStore extends Serializable {
  /** Read rows whose key falls in any of `ranges` (lexicographic on
    * UTF-8 bytes; see [[RowRange]] for bounds semantics), applying
    * `filters` as a chain (logical AND) in order.
    *
    * `ranges` must be non-empty: an explicit full scan is
    * `Seq(RowRange.full)`. Passing an empty seq throws
    * IllegalArgumentException — real Bigtable treats an empty RowSet as
    * a full table scan, so silently returning nothing here would let a
    * future gRPC-backed implementation diverge from the emulator.
    *
    * Rows are returned in key order with each key appearing once; cells
    * within a row are ordered by (family, qualifier, timestamp desc),
    * matching Bigtable's cell ordering.
    */
  def readRows(table: String, ranges: Seq[RowRange], filters: Seq[RowFilter]): Iterator[BtRow]

  /** Evenly-spaced row keys usable as partition split points, in key
    * order — the emulator's stand-in for Bigtable's public
    * `SampleRowKeys` RPC (which the HBase/Beam connectors use for
    * exactly this). Default: no hints (a range scan then splits only
    * between its composed ranges; a key set needs no hints, it reads as
    * one partition either way).
    */
  def sampleRowKeys(table: String): Seq[String] = Nil

  /** Estimated (rowCount, sizeBytes) for the given ranges, if cheaply
    * available — feeds Spark's `SupportsReportStatistics` so the
    * optimizer can e.g. auto-broadcast small connector tables. None =
    * unknown (Spark assumes conservative defaults).
    */
  def estimateSize(table: String, ranges: Seq[RowRange]): Option[(Long, Long)] = None
}

/** JVM-wide named registry so executor-side readers can resolve the
  * emulator without shipping the store in every task (valid in
  * local[*] where executors share the driver JVM — the deployment mode
  * of this harness). A cluster deployment swaps in a gRPC-backed
  * [[BigtableStore]] resolved from connection options instead.
  */
object BigtableStores {
  private val registry = new ConcurrentHashMap[String, BigtableStore]()

  def register(name: String, store: BigtableStore): Unit = registry.put(name, store)

  def unregister(name: String): Unit = registry.remove(name)

  def get(name: String): BigtableStore = {
    val s = registry.get(name)
    if (s == null)
      throw new IllegalStateException(
        s"bigtable store '$name' not registered in this JVM; " +
          "register an emulator via BigtableStores.register, configure a gRPC-backed store, " +
          "or set reader option shipStore=true to serialize the store handle into the scan"
      )
    s
  }

  /** Executor-side resolution: the JVM registry first (shared-JVM fast
    * path), else the store handle shipped inside the serialized scan
    * (`shipStore=true`) — the Spark analogue of the reference's
    * executor-side connection open (datasource.rs:81-88). A shipped
    * handle is installed into the registry so sibling tasks in the same
    * executor JVM share one instance rather than each deserialized copy.
    */
  def resolve(name: String, shipped: Option[BigtableStore]): BigtableStore = {
    val s = registry.get(name)
    if (s != null) s
    else
      shipped match {
        case Some(store) =>
          val prev = registry.putIfAbsent(name, store)
          if (prev != null) prev else store
        case None => get(name) // throws with the full remediation message
      }
  }

  def contains(name: String): Boolean = registry.containsKey(name)

  def names: Set[String] = registry.keySet().asScala.toSet
}

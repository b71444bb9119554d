package graft

import graft.model.{BtCell, CellCodec}
import graft.store.{BigtableStores, ConcurrentBigtable, ProtoSocketBigtableServer}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Seeds a [[ConcurrentBigtable]] from the driver's parquet test
  * tables (TESTDATA.md) so connector-level queries are checkable
  * against a DuckDB oracle running on the same parquet.
  *
  * Key layouts (FIXTURES.md §2 convention; reference type system is
  * {Int64 big-endian, Utf8} with floats stored as strings,
  * datasource.rs:188-189, execute_plan.rs:286-302):
  *
  *   - `nation`  → key `lpad(n_nationkey, 4, '0')`; quals n_name (utf8),
  *     n_regionkey (int64)
  *   - `orders`  → composite key `o_orderstatus # o_orderpriority #
  *     lpad(o_orderkey, 10, '0')`; quals o_custkey (int64),
  *     o_totalprice (double-as-string)
  *   - `events`  → key `lpad(user_id, 6, '0')`; quals event_type (utf8),
  *     value (double-as-string); cell timestamp = event ts in µs —
  *     a genuinely multi-version table (one version per event);
  *     `events_flush` is the same layout plus two end-of-stream sentinels.
  *   - `documents` → key `lpad(doc_id, 8, '0')`; qual text (utf8); cell
  *     timestamp spreads the docs over 8 one-second arrival slots.
  *
  * [[layouts]] holds each table's reader options; the batch readers and
  * [[changeStream]] below all start from it.
  *
  * Seeding collects the parquet to the driver: this populates the test
  * emulator only (a real deployment reads from the Bigtable service,
  * which is seeded out-of-band exactly as the reference does it via
  * scripts, insert_rows.py).
  */
object GraftTables {
  private val seeded = scala.collection.mutable.Set.empty[String]
  val FixedTs = 1600000000000000L // 2020-09-13T12:26:40Z, µs
  /** Stream step used by the gated streaming queries; the second flush
    * sentinel sits exactly one step after the first so it forms its own
    * final micro-batch.
    */
  val FlushStepMicros = 8000000000000L

  def storeName(sfDir: String): String = s"graft-store-$sfDir"

  def ensure(spark: SparkSession, sfDir: String): Unit = synchronized {
    if (seeded(sfDir)) return
    val name = storeName(sfDir)
    if (!BigtableStores.contains(name)) {
      val store = new ConcurrentBigtable

      // Every seeded column is cast DataFrame-side to its canonical type
      // BEFORE collect(): the driver regenerates the fixtures between
      // rounds and has already drifted physical widths once (events.ts),
      // so `Row.getAs` must never depend on what the file happens to hold.
      val nation = nationRows(spark, sfDir)
      store.mutateRows("nation", nation)
      // multi-family variant: same data, one family per qualifier
      store.mutateRows("nation_mf", nation.map { case (key, cells) =>
        key -> cells.map(c => c.copy(family = if (c.qualifier == "n_name") "meta" else "stats"))
      })

      spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderstatus").cast("string").as("o_orderstatus"),
          col("o_orderpriority").cast("string").as("o_orderpriority"),
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .collect().foreach { r =>
          val key = s"${r.getAs[String]("o_orderstatus")}#${r.getAs[String]("o_orderpriority")}#" +
            f"${r.getAs[Long]("o_orderkey")}%010d"
          store.mutateRows("orders", Seq(key -> Seq(
            BtCell("f", "o_custkey", FixedTs, CellCodec.encodeLong(r.getAs[Long]("o_custkey"))),
            BtCell("f", "o_totalprice", FixedTs, CellCodec.encodeString(r.getAs[Double]("o_totalprice").toString)))))
        }

      {
        var maxMicros = 0L
        // (user, ts) is this store's primary key: a same-timestamp pair
        // would overwrite a cell (one event silently lost) AND leave the
        // streaming gates' (ts, event_id) ordering to arrival luck — fail
        // loudly at seed time instead of hash-mismatching downstream
        val seenUserTs = scala.collection.mutable.HashSet.empty[(Long, Long)]
        // one mutation per user, not per event: every write to a stored
        // row rebuilds its cell vector
        val userCells = scala.collection.mutable.Map.empty[String, Vector[BtCell]]
        eventsWithMicros(spark, s"$sfDir/events.parquet").foreach { r =>
          val key = f"${r.getAs[Long]("user_id")}%06d"
          val micros = r.getAs[Long]("ts_us")
          require(seenUserTs.add((r.getAs[Long]("user_id"), micros)),
            s"events fixture has two events for user ${r.getAs[Long]("user_id")} " +
              s"at ts_us=$micros — the cell store cannot represent both and the " +
              s"streaming conversation/session gates would be order-dependent")
          maxMicros = math.max(maxMicros, micros)
          userCells(key) = userCells.getOrElse(key, Vector.empty) :+
            BtCell("f", "event_type", micros, CellCodec.encodeString(r.getAs[String]("event_type"))) :+
            BtCell("f", "value", micros, CellCodec.encodeString(r.getAs[Double]("value").toString))
        }
        store.mutateRows("events", userCells.toSeq)
        // flush variant: same data + two watermark-advancing sentinels,
        // for streaming operators that must drain event-time state at
        // end-of-replay (stream_sessionize). Sentinels (user keys >=
        // 999990, filtered out of results): the first advances the
        // watermark past every real session's timeout (end + gap); the
        // second lands one stream step later so one more batch runs and
        // the event-time timers actually fire.
        val sentinels = Seq(("999991", maxMicros + 3600000000L), ("999992", maxMicros + 3600000000L + FlushStepMicros))
          .map { case (key, ts) =>
            key -> Seq(BtCell("f", "event_type", ts, CellCodec.encodeString("flush")),
              BtCell("f", "value", ts, CellCodec.encodeString("0.0")))
          }
        store.mutateRows("events_flush", userCells.toSeq ++ sentinels)
      }

      // documents as a change stream: one cell per doc, timestamps spread
      // over 8 one-second slots so the micro-batch replay steps through 8
      // arrival batches at any scale factor (stream_doc_near_dup)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("string").as("text"))
        .collect().foreach { r =>
          val docId = r.getAs[Long]("doc_id")
          val key = f"$docId%08d"
          val ts = FixedTs + (docId % 8) * 1000000L
          store.mutateRows("documents", Seq(key -> Seq(
            BtCell("f", "text", ts, CellCodec.encodeString(r.getAs[String]("text"))))))
        }

      BigtableStores.register(name, store)
    }
    seeded += sfDir
  }

  /** `nation` in the `f`-family cell layout (key `lpad(n_nationkey, 4,
    * '0')`; quals n_name, n_regionkey), ready for `mutateRows` — shared by
    * the fixture store and gates that seed a nation-only store of their own.
    */
  private[graft] def nationRows(spark: SparkSession, sfDir: String): Seq[(String, Seq[BtCell])] =
    spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name").cast("string").as("n_name"),
        col("n_regionkey").cast("long").as("n_regionkey"))
      .collect().toSeq.map { r =>
        f"${r.getAs[Long]("n_nationkey")}%04d" -> Seq(
          BtCell("f", "n_name", FixedTs, CellCodec.encodeString(r.getAs[String]("n_name"))),
          BtCell("f", "n_regionkey", FixedTs, CellCodec.encodeLong(r.getAs[Long]("n_regionkey"))))
      }

  /** `events.parquet` with `ts` decoded to epoch microseconds (`ts_us`),
    * schema-driven: the driver's generator has shipped this column as
    * int64 TIMESTAMP(NANOS) and as timestamp[us] across regenerations, so
    * the decode branches on the physical type rather than assuming one.
    * `nanosAsLong` is a no-op for non-nanos files but required to read
    * the nanos variants at all, so it is pinned for the duration of the
    * read either way:
    *   - read as `LongType` (int64 nanos, or timestamp[ns] under the
    *     conf) → floor-divide to µs (`(ts - pmod(ts, 1000)) div 1000`,
    *     exact in long arithmetic — `floor(ts / 1000.0)` would lose
    *     precision above 2^53 and `div` alone truncates toward zero,
    *     shifting pre-epoch values 1 µs against the oracle's floor);
    *   - read as TIMESTAMP / TIMESTAMP_NTZ (timestamp[us]/[ms]) →
    *     `unix_micros` after a cast that is exact because every session
    *     in this repo pins `spark.sql.session.timeZone=UTC` — matching
    *     the DuckDB oracle's `epoch_us(ts)` wall-clock-as-UTC reading.
    * Remaining columns are cast to canonical types for the same reason.
    * Returns collected rows (this is the test-fixture seeding path, see
    * the object Scaladoc) so the conf stays pinned across execution, not
    * just planning — SQLConf is captured when the job RUNS.
    */
  private[graft] def eventsWithMicros(spark: SparkSession, path: String): Array[org.apache.spark.sql.Row] =
    SessionConf.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val raw = spark.read.parquet(path)
      val tsUs = raw.schema("ts").dataType match {
        case LongType => expr("(ts - pmod(ts, 1000L)) div 1000L")
        case _        => unix_micros(col("ts").cast(TimestampType))
      }
      val rows = raw.select(
        col("user_id").cast("long").as("user_id"),
        col("event_type").cast("string").as("event_type"),
        col("value").cast("double").as("value"),
        tsUs.cast("long").as("ts_us"))
        .collect()
      // Wrong-unit tripwire: an unannotated int64 µs (or s/ms) fixture
      // would decode through the nanos branch 1000x off. Fail seeding
      // loudly instead of silently writing wrong cell timestamps.
      rows.foreach { r =>
        val us = r.getAs[Long]("ts_us")
        require(us >= 946684800000000L && us < 4102444800000000L,
          s"eventsWithMicros: decoded ts_us=$us outside 2000..2100 — " +
            s"fixture $path likely changed physical unit; update the decode branch")
      }
      rows
    }

  /** Each fixture table's reader options, declared once (the layouts
    * in the object Scaladoc): every batch reader and change stream over
    * a fixture table starts from its entry here.
    */
  val layouts: Map[String, Map[String, String]] = {
    val events = Map("columnFamily" -> "f", "partitionCols" -> "u_key",
      "qualifiers" -> "event_type:string,value:double")
    Map(
      "nation" -> Map("columnFamily" -> "f", "partitionCols" -> "n_key",
        "qualifiers" -> "n_name:string,n_regionkey:long"),
      "orders" -> Map("columnFamily" -> "f", "partitionCols" -> "o_orderstatus,o_orderpriority,o_key",
        "separator" -> "#", "qualifiers" -> "o_custkey:long,o_totalprice:double"),
      "events" -> events,
      "events_flush" -> events,
      "documents" -> Map("columnFamily" -> "f", "partitionCols" -> "d_key", "qualifiers" -> "text:string"))
      .map { case (table, opts) => table -> (opts + ("table" -> table)) }
  }

  private def fixtureOptions(sfDir: String, table: String, extraOptions: Map[String, String]) =
    layouts(table) + ("store" -> storeName(sfDir)) ++ extraOptions

  private def read(spark: SparkSession, sfDir: String, table: String,
      extraOptions: Map[String, String]): DataFrame = {
    ensure(spark, sfDir)
    spark.read.format("bigtable").options(fixtureOptions(sfDir, table, extraOptions)).load()
  }

  /** `table` as a connector change stream over the fixture store: every
    * cell version (`onlyReadLatest=false`) of the whole table, replayed
    * in `stepMicros`-wide slices of cell time per micro-batch.
    * `extraOptions` override the table's layout.
    */
  def changeStream(spark: SparkSession, sfDir: String, table: String, stepMicros: Long,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    ensure(spark, sfDir)
    spark.readStream.format("bigtable")
      .options(fixtureOptions(sfDir, table, Map(
        "onlyReadLatest" -> "false",
        "allowFullScan" -> "true",
        "streamStepMicros" -> stepMicros.toString) ++ extraOptions))
      .load()
  }

  // -------------------------------------------------------------------
  // Remote (wire-transport) store: the seeded emulator served over a
  // real localhost TCP hop in Bigtable v2 protobuf frames, registered
  // under its own name so gates can read THROUGH the process-boundary
  // seam (the offline stand-in for the reference's executor-side gRPC
  // channel, datasource.rs:81-88).
  // -------------------------------------------------------------------

  private val remoteServers = scala.collection.mutable.Map.empty[String, ProtoSocketBigtableServer]

  def remoteStoreName(sfDir: String): String = s"${storeName(sfDir)}-remote"

  /** Seed the fixture store, then serve it over the protobuf wire
    * transport and register the client-side handle. Idempotent per
    * sfDir; the server thread is a daemon, so JVM exit is never blocked.
    */
  def ensureRemote(spark: SparkSession, sfDir: String): Unit = synchronized {
    ensure(spark, sfDir)
    if (!remoteServers.contains(sfDir)) {
      val server = new ProtoSocketBigtableServer(BigtableStores.get(storeName(sfDir)))
      remoteServers(sfDir) = server
      BigtableStores.register(remoteStoreName(sfDir), server.clientStore)
    }
  }

  /** nation over the connector THROUGH the protobuf wire transport. */
  def nationRemote(spark: SparkSession, sfDir: String): DataFrame = {
    ensureRemote(spark, sfDir)
    spark.read.format("bigtable")
      .options(layouts("nation") + ("store" -> remoteStoreName(sfDir)))
      .load()
  }

  /** nation over the connector: key n_key = lpad(n_nationkey, 4, '0'). */
  def nation(spark: SparkSession, sfDir: String, extraOptions: Map[String, String] = Map.empty): DataFrame =
    read(spark, sfDir, "nation", extraOptions)

  /** nation split across two column families (multi-family extension):
    * n_name in `meta`, n_regionkey in `stats`.
    */
  def nationMultiFamily(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "nation", Map("table" -> "nation_mf", "columnFamily" -> "meta",
      "qualifiers" -> "meta:n_name:string,stats:n_regionkey:long"))

  /** orders over the connector: composite (o_orderstatus, o_orderpriority, o_key). */
  def orders(spark: SparkSession, sfDir: String, extraOptions: Map[String, String] = Map.empty): DataFrame =
    read(spark, sfDir, "orders", extraOptions)

  /** events over the connector, all cell versions: one row per (u_key, ts). */
  def eventsAllVersions(spark: SparkSession, sfDir: String, extraOptions: Map[String, String] = Map.empty): DataFrame =
    read(spark, sfDir, "events", Map("onlyReadLatest" -> "false") ++ extraOptions)

  /** events over the connector, latest version per column only (A11). */
  def eventsLatest(spark: SparkSession, sfDir: String, extraOptions: Map[String, String] = Map.empty): DataFrame =
    read(spark, sfDir, "events", Map("onlyReadLatest" -> "true") ++ extraOptions)
}

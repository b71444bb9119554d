package graft.connector

import org.apache.spark.sql.types._

/** Declarative description of one Bigtable-backed table, assembled from
  * DSv2 reader options. Mirrors the reference's `BigtableDataSource`
  * constructor surface (reference: src/datasource.rs:28-38, 58-103):
  * addressing, one column family, partition (row-key) columns with a
  * separator, declared qualifier fields, and the latest-version flag.
  *
  * Differences from the reference, by design (SURVEY.md §1.3, §7.0):
  * qualifier fields are nullable (missing cell → SQL NULL, where the
  * reference pushes empty bytes and would panic decoding Int64,
  * execute_plan.rs:264-267); `storeName` replaces project/instance gRPC
  * addressing (the store backend is pluggable, §7.0); `allowFullScan`
  * optionally relaxes the mandatory-filter guard (composer.rs:72-77) so
  * whole-table analytics (GROUP BY, JOIN over everything) can run —
  * the guard stays on by default for reference parity.
  */
final case class BigtableConfig(
    storeName: String,
    table: String,
    columnFamily: String,
    partitionCols: Seq[String],
    separator: String,
    qualifiers: Seq[(String, DataType)],
    /** Column family per qualifier name, for qualifiers declared with an
      * explicit `family:name:type` spec; everything else lives in
      * `columnFamily`. Extension beyond the reference, which supports
      * exactly one family per table (datasource.rs:28-38).
      */
    qualifierFamilies: Map[String, String] = Map.empty,
    onlyReadLatest: Boolean,
    allowFullScan: Boolean,
    /** Plan-size budget: if the composer's range set (cartesian products
      * of wide IN lists, OR-splitting) exceeds this, it collapses to one
      * covering range — over-broad but safe under inexact pushdown, and
      * bounds planning time/requests at any query width.
      */
    maxComposedRanges: Int = 4096,
    /** Micro-batch admission step for streaming reads: each batch
      * advances the cell-timestamp offset by at most this many µs
      * (None = take everything available in one batch).
      */
    streamStepMicros: Option[Long] = None,
    /** Cluster deployment path: serialize the registered store handle
      * into the scan so executor JVMs that never saw
      * `BigtableStores.register` can still read. For the in-process
      * emulator this ships a copy of the whole store, as it stands
      * when the tasks are serialized; a gRPC-backed store
      * serializes as its connection config and reopens lazily on the
      * executor — the reference's executor-side channel
      * (datasource.rs:81-88). Default off: in local[*] the registry is
      * shared and shipping the store would bloat every task binary.
      */
    shipStore: Boolean = false,
    /** Cell timestamp for writes when the input has no `_timestamp`
      * column (µs since epoch). Pinned by default so re-executed writer
      * tasks upsert the SAME cell coordinates — idempotent retries.
      */
    writeTimestampMicros: Long = 0L,
    /** Rows buffered per MutateRows call by each writer task. */
    writeBatchRows: Int = 512,
    /** Report provably-exact key filters as fully pushed (no residual
      * FilterExec) instead of the reference's always-inexact discipline
      * (A14, datasource.rs:163-165). Only single-component keys and
      * composition shapes whose range set EQUALS the predicate set
      * qualify (see [[RowRangeComposer.exactlyPushable]]); everything
      * else stays residual. Unlocks aggregate pushdown under key
      * filters — Spark only pushes aggregates past a scan with zero
      * residual filters. Default off for reference-parity plan shapes.
      */
    exactFilterPushdown: Boolean = false
) extends Serializable {

  /** Fixed schema in the reference's column order (datasource.rs:68-79):
    * partition cols (Utf8, non-null), `_timestamp` (µs), then declared
    * qualifiers in declaration order.
    */
  def schema: StructType = {
    val keyFields = partitionCols.map(StructField(_, StringType, nullable = false))
    val tsField = StructField(BigtableConfig.TimestampCol, TimestampType, nullable = false)
    val qualFields = qualifiers.map { case (n, t) => StructField(n, t, nullable = true) }
    StructType(keyFields ++ Seq(tsField) ++ qualFields)
  }

  def isPartitionCol(name: String): Boolean = partitionCols.contains(name)

  /** Data-qualifier classification, reference datasource.rs:105-117. */
  def isQualifier(name: String): Boolean =
    name != BigtableConfig.TimestampCol && !isPartitionCol(name)

  /** Column family a declared qualifier lives in (default family unless
    * declared `family:name:type`).
    */
  def familyOf(name: String): String = qualifierFamilies.getOrElse(name, columnFamily)

  /** Every family any declared qualifier lives in, default first. */
  def families: Seq[String] =
    (columnFamily +: qualifiers.map { case (n, _) => familyOf(n) }).distinct
}

object BigtableConfig {
  /** Reserved single-key column name (reference datasource.rs:21). */
  val RowKeyCol = "_row_key"

  /** Reserved cell-timestamp column name (reference datasource.rs:22). */
  val TimestampCol = "_timestamp"

  /** Parse DSv2 options. Expected keys:
    * {{{
    *   store             registry name of the BigtableStore (required)
    *   table             bigtable table name (required)
    *   columnFamily      single column family (required)
    *   partitionCols     comma-separated row-key components (default "_row_key")
    *   separator         composite-key separator (default "#", datasource.rs:20)
    *   qualifiers        comma-separated name:type, type ∈ {long,string,double}
    *   onlyReadLatest    default true
    *   allowFullScan     default false (reference behavior: composer.rs:72-77)
    *   maxComposedRanges range-set budget before collapsing to one range (default 4096)
    *   exactFilterPushdown  report provably-exact filters as pushed (default false)
    *   streamStepMicros  micro-batch timestamp step (default: no step)
    *   shipStore         serialize the store handle into the scan (default false)
    *   writeTimestampMicros, writeBatchRows  write path (defaults 0, 512)
    * }}}
    * A boolean or integer option with a malformed value fails with an
    * `IllegalArgumentException` naming the option and the value. Scan
    * partitions are sized by Spark's own `spark.sql.files.minPartitionNum`
    * and `spark.sql.files.maxPartitionBytes` (see
    * [[BigtableScan.planPartitions]]); the removed `maxPartitions` option
    * fails rather than being silently ignored.
    */
  def fromOptions(opts: java.util.Map[String, String]): BigtableConfig = {
    require(!opts.containsKey("maxPartitions"),
      "bigtable option 'maxPartitions' was removed: scans size their partitions by " +
        "spark.sql.files.maxPartitionBytes and spark.sql.files.minPartitionNum")
    def req(k: String): String = {
      val v = opts.get(k)
      require(v != null && v.nonEmpty, s"bigtable option '$k' is required")
      v
    }
    def opt(k: String, d: String): String = Option(opts.get(k)).filter(_.nonEmpty).getOrElse(d)
    // every non-string option parses here, so a bad value fails naming
    // the option instead of a bare "For input string"
    def typed[A](k: String, default: A, kind: String)(parse: String => A): A =
      Option(opts.get(k)).filter(_.nonEmpty).fold(default) { v =>
        try parse(v)
        catch {
          case _: IllegalArgumentException =>
            throw new IllegalArgumentException(s"invalid value for bigtable option '$k': '$v' is not $kind")
        }
      }
    def parseType(t: String): DataType = t.trim.toLowerCase match {
      case "long" | "int64" | "bigint" => LongType
      case "string" | "utf8"           => StringType
      // reference convention: floats stored as UTF-8 strings
      // (datasource.rs:188-189 "Bigtable does not support float
      // number, so store as string")
      case "double" | "float64" => DoubleType
      case other                => throw new IllegalArgumentException(s"unsupported qualifier type: $other")
    }
    // `name:type` (default family) or `family:name:type` (multi-family
    // extension; the reference supports one family per table)
    val parsed = req("qualifiers").split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { s =>
      s.split(':') match {
        case Array(n, t)      => (None, n.trim, parseType(t))
        case Array(f, n, t)   => (Some(f.trim), n.trim, parseType(t))
        case _ => throw new IllegalArgumentException(
          s"malformed qualifier spec: '$s' (want name:type or family:name:type)")
      }
    }
    val names = parsed.map(_._2)
    require(names.distinct.size == names.size,
      s"qualifier column names must be unique across families: ${names.mkString(", ")}")
    val quals = parsed.map { case (_, n, dt) => (n, dt) }
    val qualFams = parsed.collect { case (Some(f), n, _) => n -> f }.toMap
    BigtableConfig(
      storeName = req("store"),
      table = req("table"),
      columnFamily = req("columnFamily"),
      partitionCols = {
        val cols = opt("partitionCols", RowKeyCol).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        // an empty list would make every per-component composition vacuously
        // succeed (product over zero sets = 1) and silently narrow scans to
        // the single point key "" — reject it at the door instead
        require(cols.nonEmpty, "partitionCols must name at least one row-key column")
        cols
      },
      separator = opt("separator", "#"),
      qualifiers = quals,
      qualifierFamilies = qualFams,
      onlyReadLatest = typed("onlyReadLatest", true, "a boolean")(_.toBoolean),
      allowFullScan = typed("allowFullScan", false, "a boolean")(_.toBoolean),
      maxComposedRanges = typed("maxComposedRanges", 4096, "an integer")(_.toInt),
      streamStepMicros = typed[Option[Long]]("streamStepMicros", None, "an integer")(v => Some(v.toLong)),
      shipStore = typed("shipStore", false, "a boolean")(_.toBoolean),
      writeTimestampMicros = typed("writeTimestampMicros", 0L, "an integer")(_.toLong),
      writeBatchRows = typed("writeBatchRows", 512, "an integer")(_.toInt),
      exactFilterPushdown = typed("exactFilterPushdown", false, "a boolean")(_.toBoolean)
    )
  }
}

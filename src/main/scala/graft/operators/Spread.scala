package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spread an under-partitioned input across the cluster before per-row
  * heavy compute (shingling, tokenizing, n-gram hashing, minhashing).
  * A small parquet file plans as ONE input split, which serializes the
  * whole map stage regardless of cluster size; at real scale inputs
  * already have >= defaultParallelism partitions and this is a no-op
  * (no shuffle). The decision reads logical-plan statistics (file sizes
  * for scans) — never `.rdd`, which under AQE eagerly executes query
  * stages.
  *
  * BATCH entry points only: a streaming micro-batch frame reports its
  * source's statistics, so a stats-driven spread inside per-batch code
  * re-shuffles raw text every trigger (measured 2x on the
  * stream_doc_near_dup gate when tried). Never call this from code
  * reachable from foreachBatch processing.
  */
private[graft] object Spread {
  def small(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val isSmall = df.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(target.toLong) * 8L * 1024 * 1024
    if (isSmall) df.repartition(target) else df
  }

  /** Target bytes per partition for [[scaledPartitions]] — an ops knob
    * (`spark.graft.spread.targetPartitionBytes`, default 128 MB, the
    * guide-§2.2 "100 MB–1 GB" shuffle-partition regime): presentation
    * sorts and explicit repartitions that pin a partition COUNT must
    * scale that count with DATA SIZE, not only with the core count —
    * at 100 TB, `defaultParallelism` partitions of a multi-TB frame
    * are multi-GB spill-heavy tasks with no AQE escape hatch
    * (user-specified counts are never AQE-split).
    */
  private[graft] val TargetPartitionBytesConf = "spark.graft.spread.targetPartitionBytes"
  private[graft] val DefaultTargetPartitionBytes = 128L * 1024 * 1024

  private def targetPartitionBytes(spark: SparkSession): Long =
    graft.SessionConf.long(spark, TargetPartitionBytesConf, DefaultTargetPartitionBytes)

  /** Data-size-adaptive partition count (VERDICT r18 #3): floor at
    * `defaultParallelism` (keep every core busy at fixture scale),
    * scale as `bytes / targetPartitionBytes` past it (bound per-task
    * memory at real scale). `bytes < 0` = unknown; plan statistics that
    * are absent or placeholder-huge (joins without stats propagate
    * `defaultSizeInBytes` = Long.MaxValue) also degrade to the core
    * floor rather than exploding the partition count. The count is
    * additionally capped at 64 × cores: byte ESTIMATES can overshoot by
    * orders of magnitude (join selectivity guesses), and 64 × cores of
    * ~target-sized partitions is already ≥ 8 GB in flight per core —
    * past that, the estimate is more likely wrong than the data big.
    *
    * Callers must pass bytes they can VOUCH for: exact file sizes, or
    * plan stats of a scan/projection tree. Never feed it a join's (or a
    * checkpointed join's) statistics — those are cardinality estimates,
    * measured off by 4+ orders of magnitude on the LSH pair plans.
    */
  def scaledPartitions(spark: SparkSession, bytes: BigInt): Int = {
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    val unknown = bytes <= 0 || bytes >= BigInt(Long.MaxValue) / 4
    if (unknown) cores
    else {
      val byBytes = (bytes + targetPartitionBytes(spark) - 1) / targetPartitionBytes(spark)
      math.max(cores.toLong, byBytes.min(BigInt(64L * cores)).toLong).toInt
    }
  }

  /** [[scaledPartitions]] from a frame's optimized-plan statistics —
    * see the stats-trust caveat above: scan/projection frames only.
    */
  def scaledPartitions(spark: SparkSession, df: DataFrame): Int =
    scaledPartitions(spark, df.queryExecution.optimizedPlan.stats.sizeInBytes)
}

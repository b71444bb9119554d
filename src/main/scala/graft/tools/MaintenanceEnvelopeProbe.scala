package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Dev probe (r19, VERDICT r18 #6): the peak-memory envelope of the
  * streaming-dedup maintenance pass under CONCURRENT per-dataset
  * compactions (default, width 3) vs staged (width 1). Local mode puts
  * every "executor" in this JVM, so the JVM-wide peak heap across all
  * memory pools bounds the whole cluster-side envelope. Peaks are reset
  * before each compaction and read after it.
  *
  * The reported figure is biased upward: `peakHeapMb` SUMS each heap
  * pool's own peak, and the pools (eden, survivor, old gen) reach those
  * peaks at different instants, so the sum can exceed any heap size the
  * JVM actually held at one moment. Read it as an upper bound, and a
  * width-vs-width ratio of two such sums as an estimate only.
  *
  * Usage: runMain graft.tools.MaintenanceEnvelopeProbe [sfDir] [widths=3,1]
  */
object MaintenanceEnvelopeProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import scala.jdk.CollectionConverters._
    def resetPeaks(): Unit =
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .foreach(_.resetPeakUsage())
    def peakHeapMb(): Long =
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / (1024 * 1024)

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
    val widths = (if (args.length > 1) args(1) else "3,1").split(",").map(_.trim.toInt)
    widths.foreach { width =>
      val work = java.nio.file.Files.createTempDirectory(s"graft-envelope-w$width").toString
      val SD = graft.streaming.StreamingDedup
      SD.incrementalNearDuplicatesInit(spark, work)
      SD.processBatch(docs, work, 0.9, 5, 120, 20, batchId = Some(0L)): Unit
      spark.conf.set(SD.MaintenanceParallelismConf, width.toString)
      System.gc()
      resetPeaks()
      val t0 = System.nanoTime()
      SD.compactIndex(spark, work, targetRecordsPerFile = 400L): Unit
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"maintenance width=$width: peak heap ${peakHeapMb()} MB, $sec%.2f s")
    }
    spark.stop()
  }
}

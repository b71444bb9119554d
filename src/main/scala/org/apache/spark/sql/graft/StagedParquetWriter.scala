package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Writes parquet files of `schema` rows from inside a task, or on the
  * driver, without a write job. The writer is the one `df.write.parquet`
  * uses: [[ParquetFileFormat]]'s `prepareWrite` over the session's
  * Hadoop conf, so a file carries the same `ParquetWriteSupport`
  * encoding, codec and footer metadata. Files go into a directory the
  * caller owns (a [[graft.streaming.CommitLog]] stage dir); nothing is
  * committed here. In the `org.apache.spark.sql` namespace because
  * `SerializableConfiguration` is `private[spark]`.
  */
final class StagedParquetWriter private (
    private val factory: OutputWriterFactory,
    private val conf: SerializableConfiguration,
    private val schema: StructType)
  extends Serializable {

  /** A new file under `dir`, created at its first row. */
  def open(dir: String): StagedParquetWriter.File = new StagedParquetWriter.File(this, dir)

  /** Write `rows` to one new file under `dir`, created even when `rows`
    * is empty (as `df.write.parquet` writes an empty frame): its name.
    */
  def writeFile(dir: String, rows: Iterator[InternalRow]): String = {
    val f = open(dir)
    f.create()
    try rows.foreach(f.write)
    catch { case e: Throwable => f.abort(); throw e }
    f.close().get
  }

  private def newWriter(dir: String): OutputWriter = {
    val ctx = TaskContext.get()
    val (stage, part, attempt) =
      if (ctx == null) (0, 0, 0) else (ctx.stageId(), ctx.partitionId(), ctx.attemptNumber())
    val attemptId = new TaskAttemptID(new TaskID(new JobID("graft", stage), TaskType.MAP, part), attempt)
    val context = new TaskAttemptContextImpl(conf.value, attemptId)
    val name = f"part-$part%05d-${java.util.UUID.randomUUID()}-c000" + factory.getFileExtension(context)
    factory.newInstance(s"$dir/$name", schema, context)
  }
}

object StagedParquetWriter {

  def apply(spark: SparkSession, schema: StructType): StagedParquetWriter = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    new StagedParquetWriter(factory, new SerializableConfiguration(job.getConfiguration), schema)
  }

  /** One file being written. Not thread-safe. */
  final class File private[StagedParquetWriter] (w: StagedParquetWriter, dir: String) {
    private var out: OutputWriter = _

    def write(row: InternalRow): Unit = {
      create()
      out.write(row)
    }

    private[StagedParquetWriter] def create(): Unit =
      if (out == null) out = w.newWriter(dir)

    /** Close the file: its name, or None when no row was written. A
      * failed close deletes the partial file.
      */
    def close(): Option[String] =
      Option(out).map { o =>
        try o.close() catch { case e: Throwable => abort(); throw e }
        new Path(o.path()).getName
      }

    /** Close and delete the partial file; never throws. */
    def abort(): Unit = if (out != null) {
      val p = new Path(out.path())
      try out.close() catch { case _: Throwable => }
      try p.getFileSystem(w.conf.value).delete(p, false): Unit catch { case _: Throwable => }
    }
  }
}

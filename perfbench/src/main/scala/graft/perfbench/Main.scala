package graft.perfbench

import graft.store.{BigtableStores, ConcurrentBigtable, MutableBigtableStore, ProtoSocketBigtableServer}

import org.apache.spark.sql.SparkSession

import java.io.File
import java.util.concurrent.{Executors, TimeUnit}

/** Benchmark entry point: one workload, one seed, one closed loop with a
  * single client.
  *
  * {{{
  *   Main --workload point_lookup|scan_agg|ingest_dedup --seed N --seconds S
  *        --trace 0|1 --work DIR [--spans FILE]
  * }}}
  *
  * Prints human-readable lines, then one JSON object as the last line.
  * `--trace 0` measures the end-to-end metrics with no probe installed;
  * `--trace 1` alternates untraced and traced units of work and reports
  * the per-layer metrics, the self-time table and the tracing overhead.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File,
      spans: Option[File] = None)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") match {
        case "0" => false
        case "1" => true
        case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      new File(req("work")),
      m.get("spans").map(new File(_)))
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.names.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    args.work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val sparkStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getPath)
      .config("spark.local.dir", new File(args.work, "local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.nanoTime() - sparkStart) / 1e9
    val result =
      try Workloads(args.workload, spark, args, cores).run(sparkStartS)
      finally {
        spark.stop()
        BigtableStores.names.foreach(BigtableStores.unregister)
      }
    result.lines.foreach(println)
    println(result.json)
    System.out.flush()
  }
}

/** A live deployment-shaped store: the emulator behind the Bigtable v2
  * wire server, reached only through the wire client.
  */
final class Deployment(val name: String) extends AutoCloseable {
  val backing = new ConcurrentBigtable
  val server = new ProtoSocketBigtableServer(backing)
  val client: MutableBigtableStore = server.clientStore
  BigtableStores.register(name, client)

  /** Seed rows through MutateRows, `threads` connections at a time. */
  def seed(batches: Seq[(String, Seq[(String, Seq[graft.model.BtCell])])], threads: Int): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val fs = batches.map { case (table, rows) =>
        pool.submit(new Runnable { def run(): Unit = client.mutateRows(table, rows) })
      }
      fs.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  override def close(): Unit = {
    BigtableStores.unregister(name)
    server.close()
  }
}

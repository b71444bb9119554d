package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract: entry() returns rows on sf0.001 and
  * every registered query runs (the oracle hash-compare itself is the
  * driver's job; tools/check_correctness.py mimics it locally).
  */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("entry() runs the flagship query with rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  // `++` keeps the right-hand entry of a duplicate key without a word
  test("the stream registry and the batch maps share no query or oracle name") {
    assert((SparkEntry.batchQueries.keySet & StreamGates.queries.keySet).isEmpty)
    assert((SparkEntry.batchOracleSql.keySet & StreamGates.oracleSql.keySet).isEmpty)
    assert(SparkEntry.queries.size == SparkEntry.batchQueries.size + StreamGates.queries.size)
    assert(SparkEntry.oracleSql.size == SparkEntry.batchOracleSql.size + StreamGates.oracleSql.size)
  }

  test("every stream_* gate and oracle lives in StreamGates") {
    val streamNames = (SparkEntry.queries.keySet ++ SparkEntry.oracleSql.keySet).filter(_.startsWith("stream_"))
    assert(streamNames == StreamGates.queries.keySet)
    assert(streamNames == StreamGates.oracleSql.keySet)
  }

  // a memory-sink replay gate must leave the session as it found it
  test("a replay gate leaves no query, conf change or checkpoint dir behind") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    def explicitConfs = keys.map(k => k -> spark.conf.getAll.get(k)).toMap
    def replayCheckpoints = Option(new java.io.File(sys.props("java.io.tmpdir")).list()).toSet.flatten
      .filter(_.startsWith(StreamGates.ReplayCheckpointPrefix))
    def runGate(): Unit = {
      assert(SparkEntry.queries("stream_dedup")(spark, sfDir).collect().nonEmpty)
      assert(spark.streams.active.isEmpty)
    }
    val saved = explicitConfs
    val checkpointsBefore = replayCheckpoints
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      runGate()
      assert(explicitConfs == Map(
        "spark.sql.shuffle.partitions" -> Some("7"), "spark.sql.adaptive.enabled" -> Some("true")))

      keys.foreach(spark.conf.unset)
      runGate()
      assert(explicitConfs == keys.map(_ -> None).toMap)

      assert(replayCheckpoints == checkpointsBefore)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("all registered queries execute at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      withClue(name) { assert(n >= 0) }
    }
  }
}

package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Snapshot normalization (ADVICE r12): nondeterministic run artifacts
  * are masked, deliberate fixture constants and key literals survive.
  */
class PlanSnapshotSpec extends AnyFunSuite {

  test("masks exprIds, plan ids, addresses, lambdas, uuids, tmp paths, epochs") {
    val raw =
      """Sort [n_key#1234 ASC NULLS FIRST], sum(l_quantity#77L)#901L
        |+- BatchScan t[...] plan_id=567 GraftObj@1a2b3c4d5e
        |   Lambda$$Lambda$4321/0x00007f8e2c123456
        |   runId = 3f2a1b4c-0d5e-6f70-8192-a3b4c5d6e7f8
        |   checkpoint = file:/tmp/temporary-abc123/state, dir=/tmp/graft-btsw42/cp
        |   batchTimestampMs = 1755172800123, eventTimeUs = 1755172800123456
        |   MapPartitionsRDD[12282] at createDataFrame at Stats.scala:58
        |""".stripMargin
    val norm = PlanSnapshot.normalize(raw)
    assert(!norm.contains("#1234") && !norm.contains("#77L") && !norm.contains("#901L"), norm)
    assert(norm.contains("plan_id=N"))
    assert(norm.contains("@ADDR") && !norm.contains("1a2b3c4d5e"))
    assert(!norm.contains("0x00007f8e2c123456"))
    assert(norm.contains("UUID") && !norm.contains("3f2a1b4c"))
    assert(norm.contains("file:/tmp/TMPPATH") && !norm.contains("temporary-abc123"))
    assert(norm.contains("/tmp/TMPPATH") && !norm.contains("graft-btsw42"))
    assert(norm.contains("EPOCH_MS") && !norm.contains("1755172800123,"))
    assert(norm.contains("EPOCH_US") && !norm.contains("1755172800123456"))
    assert(norm.contains("MapPartitionsRDD[N]") && !norm.contains("RDD[12282]"), norm)
  }

  test("lambda variable counters mask; non-lambda underscores survive") {
    val raw = "aggregate(a#12, lambdafunction(concat(lambda x_92#45, lambda y_7#46), lambda x_92#45, lambda y_7#46, false)) AS __sig#7"
    val norm = PlanSnapshot.normalize(raw)
    assert(norm.contains("lambda x_N#N") && !norm.contains("x_92"), norm)
    assert(norm.contains("lambda y_N#N") && !norm.contains("y_7#"), norm)
    assert(norm.contains("__sig#N"), norm) // double-underscore aliases untouched
    // multi-letter underscore names (real columns) survive
    assert(PlanSnapshot.normalize("conv_start_us#3, ts_us#4") == "conv_start_us#N, ts_us#N")
    // broadcast variable ids (SparkContext-lifetime counter) mask
    assert(PlanSnapshot.normalize("nearest_centroids(cvec#2, Broadcast(4941), 1)")
      == "nearest_centroids(cvec#N, Broadcast(N), 1)")
  }

  test("watermark-annotated exprIds mask; the watermark delay survives") {
    // `ts#123-T60000ms` (streaming watermark suffix): the dash must not
    // trip the composite-literal lookahead and leave a fresh exprId in
    // every regenerated streaming snapshot
    val norm = PlanSnapshot.normalize("((v_ts#60510-T3600000ms <= p_ts#60504-T3600000ms))")
    assert(norm == "((v_ts#N-T3600000ms <= p_ts#N-T3600000ms))", norm)
  }

  test("codegen and query-stage ids mask; other Arguments survive") {
    val raw =
      """(79) HashAggregate [codegen id : 9]
        |Input [1]: [__sid#12]
        |
        |(80) ShuffleQueryStage
        |Output [1]: [__sid#12]
        |Arguments: 8
        |
        |(81) ResultQueryStage
        |Arguments: 10
        |
        |(82) CollectLimit
        |Input [1]: [__sid#12]
        |Arguments: 5
        |*(3) Project [a#1]
        |""".stripMargin
    val norm = PlanSnapshot.normalize(raw)
    assert(norm.contains("(79) HashAggregate [codegen id : N]"), norm)
    assert(norm.contains("(80) ShuffleQueryStage\nOutput [1]: [__sid#N]\nArguments: N"), norm)
    assert(norm.contains("(81) ResultQueryStage\nArguments: N"), norm)
    assert(norm.contains("Input [1]: [__sid#N]\nArguments: 5"), norm) // a limit is content
    assert(norm.contains("*(N) Project [a#N]"), norm)
    // two runs that differ only by codegen and stage numbering normalize alike
    val swapped = raw.replace("codegen id : 9", "codegen id : 10").replace("Arguments: 8", "Arguments: 9")
    assert(PlanSnapshot.normalize(swapped) == norm)
  }

  test("key literals and fixture-pinned constants survive") {
    val raw =
      """BigtableScan orders ranges=2 ([O#1-URGENT#0000000100, O#1-URGENT#0000000900])
        | tsWindow=(1600000000000000, 1600000001000000]µs limit=5
        | PushedFilters: [EqualTo(o_orderstatus,O), In(o_orderpriority,[1-URGENT,3-MEDIUM])]""".stripMargin
    val norm = PlanSnapshot.normalize(raw)
    assert(norm.contains("#1-URGENT"), norm)          // composite separator intact
    assert(norm.contains("1600000000000000"), norm)   // FixedTs intact
    assert(norm.contains("EqualTo(o_orderstatus,O)"), norm)
    // the numeric key tails do get masked (indistinguishable from
    // exprIds by syntax) — shape and prefixes remain
    assert(norm.contains("O#1-URGENT#N"), norm)
  }

  test("idempotent: normalizing twice is a no-op") {
    val raw = "a#12 plan_id=3 @abcdef0 file:/tmp/x/y 1755172800123"
    assert(PlanSnapshot.normalize(PlanSnapshot.normalize(raw)) == PlanSnapshot.normalize(raw))
  }
}

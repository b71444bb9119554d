package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.runGate]]: a gate's first failure is its error, also when
  * only the warm-up fails.
  */
class BenchSpec extends AnyFunSuite {
  /** A gate that fails on its first execution only, as a fault injector
    * that has spent its faults does; counts its executions.
    */
  private final class FailsOnce {
    var executions = 0
    def execute(): Int = {
      executions += 1
      if (executions == 1) throw new IllegalStateException("injected fault\nsecond line")
      executions
    }
  }

  private def run(gate: FailsOnce, warmup: Boolean, snapshots: collection.mutable.Buffer[Int] = collection.mutable.Buffer.empty,
      cleanups: collection.mutable.Buffer[Boolean] = collection.mutable.Buffer.empty): Bench.GateResult =
    Bench.runGate[Int](repeats = 3, warmup = warmup, execute = () => gate.execute(),
      snapshot = snapshots += _, cleanup = cleanups += _)

  test("a warm-up failure is the gate's error, with timing -1 and no timed runs") {
    val gate = new FailsOnce
    val cleanups = collection.mutable.Buffer.empty[Boolean]
    val result = run(gate, warmup = true, cleanups = cleanups)
    assert(result.error.contains("injected fault"))
    assert(result.timing == -1.0)
    assert(result.runs.isEmpty)
    assert(gate.executions == 1, "the repeats are skipped")
    assert(cleanups == Seq(true))
  }

  test("without a warm-up the first timed failure is the error and ends the gate") {
    val gate = new FailsOnce
    val result = run(gate, warmup = false)
    assert(result.error.contains("injected fault"))
    assert(result.timing == -1.0)
    assert(gate.executions == 1)
  }

  test("a passing gate reports its fastest timed run and snapshots its first execution") {
    val gate = new FailsOnce
    gate.executions = 1 // already past its fault
    val snapshots = collection.mutable.Buffer.empty[Int]
    val cleanups = collection.mutable.Buffer.empty[Boolean]
    val result = run(gate, warmup = true, snapshots, cleanups)
    assert(result.error.isEmpty)
    assert(result.runs.size == 3 && result.timing == result.runs.min && result.timing >= 0)
    assert(gate.executions == 5)
    assert(snapshots == Seq(2), "the warm-up's result is snapshotted, once")
    assert(cleanups == Seq(true, false, false, false))
  }
}

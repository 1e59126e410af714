package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The traced loop must run the same program as `attach`: on the same
  * slices, both emit the same clips and terminal signals. */
class TraceParitySpec extends AnyFunSuite {
  test("fused_mix: traced and untraced runs of one seed emit the same clip and signal counts") {
    val out = new java.io.File("target/test-out")
    def run(trace: Boolean) =
      Bench.run(Options("fused_mix", 5L, 600, trace, out, setups = 1, maxSlices = Some(4)))
    val plain = run(trace = false)
    val traced = run(trace = true)
    assert(plain.correct, plain.failures.take(3) ++ plain.problems)
    assert(traced.correct, traced.failures.take(3) ++ traced.problems)
    assert(plain.clipCount == traced.clipCount)
    assert(plain.terminalCounts == traced.terminalCounts)
    // the drain kills the long-lived queries; each slice's RAW arrival completes
    assert(plain.terminalCounts == Map("Kill" -> Workloads("fused_mix", 5L).initial.size, "Complete" -> 2))
    assert(traced.perLayer("spark.actions_per_batch").value > 0)
    assert(traced.spans.exists(_.name == "engine.processBatch"))
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentiles interpolate between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 5.0)
    assert(math.abs(Stats.percentile(xs, 0.9) - 4.6) < 1e-12)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.percentile(Seq.empty, 0.5).isNaN)
    assert(math.abs(Stats.percentile((1 to 100).map(_.toDouble), 0.9) - 90.1) < 1e-12)
  }

  private def span(id: Int, parent: Int, layer: String, s: Long, e: Long) =
    Span(id, parent, s"s$id", layer, 0L, s, e)

  test("self time subtracts the union of the children, clipped to the parent") {
    val spans = Seq(
      span(1, -1, "stream", 0, 100),
      span(2, 1, "engine", 10, 60),
      span(3, 2, "spark", 20, 30),
      span(4, 2, "spark", 25, 40), // overlaps 3: [20, 40) counts once
      span(5, 1, "transport", 90, 120)) // runs past its parent: [90, 100) counts
    val self = Spans.selfTimes(spans)
    assert(self == Map(1 -> 40L, 2 -> 30L, 3 -> 10L, 4 -> 15L, 5 -> 30L))
    assert(Spans.selfTimeByLayer(spans) == Map(
      "stream" -> 40L, "engine" -> 30L, "spark" -> 25L, "transport" -> 30L))
  }

  test("covered merges disjoint and nested intervals") {
    assert(Spans.covered(0, 100, Seq.empty) == 0L)
    assert(Spans.covered(0, 100, Seq((10L, 20L), (30L, 40L))) == 20L)
    assert(Spans.covered(0, 100, Seq((10L, 50L), (20L, 30L))) == 40L)
    assert(Spans.covered(0, 100, Seq((-10L, 10L), (95L, 200L))) == 15L)
    assert(Spans.covered(0, 100, Seq((100L, 200L))) == 0L)
  }

  test("the trace tree hangs each batch under its trigger and each action under the innermost span") {
    val ms = 1000000L
    val b = BatchInfo(7, 1000L, 100L, 90L, 10L, 3L)
    val t0 = Clock.fromEpochMs(1000L)
    val traced = Seq(
      Span(1, -1, "batch", "stream", 7, t0 + 5 * ms, t0 + 95 * ms),
      Span(2, 1, "engine.processBatch", "engine", 7, t0 + 10 * ms, t0 + 80 * ms))
    val tree = Layers.treeOf(traced, Seq(b), Seq((t0 + 20 * ms, t0 + 50 * ms)))
    val trigger = tree.find(_.name == "trigger").get
    assert(trigger.durNs == 100 * ms && trigger.parent == -1)
    assert(tree.find(_.name == "batch").get.parent == trigger.id)
    assert(tree.find(_.name == "spark.action").get.parent == 2)
    val self = Spans.selfTimeByLayer(tree)
    assert(self("stream") == 10 * ms + 20 * ms) // trigger outside the batch + batch outside processBatch
    assert(self("engine") == 40 * ms)
    assert(self("spark") == 30 * ms)
  }
}

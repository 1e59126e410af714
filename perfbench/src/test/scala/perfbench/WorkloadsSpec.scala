package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.bql.{BqlParseException, Parser}

class WorkloadsSpec extends AnyFunSuite {
  private def queries(w: Workload) = w.initial ++ w.timed(10000L) ++ (0 until 20).flatMap(w.sliceArrivals)

  private def texts(w: Workload) = queries(w).map(q => (q.id, q.bql, q.dueMs, q.killMs, q.ends))

  test("a seed fixes every query text and schedule; another seed changes them") {
    Workloads.Names.foreach { name =>
      val a = texts(Workloads(name, 7L))
      assert(a.nonEmpty, name)
      assert(a == texts(Workloads(name, 7L)), s"$name is not reproducible")
      assert(a != texts(Workloads(name, 8L)), s"$name ignores its seed")
      assert(a.map(_._1).distinct.size == a.size, s"$name repeats a query id")
    }
  }

  test("a seed fixes the event stream") {
    assert(Events.range(3L, 100L, 50).toSeq == Events.range(3L, 100L, 50).toSeq)
    assert(Events.range(3L, 100L, 50).toSeq != Events.range(4L, 100L, 50).toSeq)
    assert(Events.at(3L, 120L) == Events.range(3L, 100L, 50)(20))
  }

  test("the event stream has the fixture's shape (figures in the README)") {
    val es = Events.range(9L, 0L, 100000)
    assert(es.map(_.user_id).distinct.length == 1500)
    assert(es.map(_.user_id).forall(u => u >= 0 && u < 1500))
    es.groupBy(_.event_type).foreach { case (t, g) =>
      assert(math.abs(g.length / 1e5 - 0.2) < 0.01, s"$t share ${g.length / 1e5}")
    }
    val values = es.map(_.value).toSeq
    // the fixture's quantiles, as fixture_stats.py measures them
    Seq(0.25 -> 14.64, 0.5 -> 34.77, 0.9 -> 114.302, 0.99 -> 228.081).foreach { case (p, want) =>
      val got = Stats.percentile(values, p)
      assert(math.abs(got - want) / want < 0.05, s"value p$p $got, fixture $want")
    }
    assert(math.abs(Stats.mean(values) - 49.868) / 49.868 < 0.02)
    assert(values.forall(v => v >= 0 && math.round(v * 100) / 100.0 == v))
    assert(es.map(_.props).distinct.length == 100)
    val gapMs = (es.last.ts.getTime - es.head.ts.getTime) / (es.length - 1.0)
    assert(math.abs(gapMs - 25919.8) / 25919.8 < 0.01, s"mean ts gap $gapMs ms")
  }

  test("every query parses, except the deliberately malformed ones") {
    Workloads.Names.foreach { name =>
      val w = Workloads(name, 11L)
      queries(w).foreach { q =>
        if (q.check == Check.Malformed) assertThrows[BqlParseException](Parser.parse(q.bql))
        else Parser.parse(q.bql)
      }
    }
  }

  test("churn arrives 3 queries a second, a tenth killed, one in twenty malformed") {
    val qs = Workloads("churn", 5L).timed(20000L)
    assert(qs.size == 60)
    assert(qs.count(_.killMs.isDefined) == 6)
    assert(qs.count(_.check == Check.Malformed) == 3)
    assert(qs.forall(q => q.killMs.forall(_ > q.dueMs)))
    assert(qs.map(_.dueMs) == qs.map(_.dueMs).sorted)
  }
}

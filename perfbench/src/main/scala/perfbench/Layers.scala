package perfbench

import scala.jdk.CollectionConverters._

import graft.bql.Parser

/** Per-layer metrics of a traced run, from the benchmark's spans around
  * attach's four calls, the transport decorator, Spark's listeners and the
  * engine's public gauges. A layer that did no such work reports 0. */
object Layers {
  def metrics(rig: Rig, timed: Seq[BatchInfo], texts: Seq[String]): (Map[String, Metric], Seq[Span]) = {
    val ids = timed.map(_.id).toSet
    val traced = rig.tracer.all.filter(s => ids(s.batch))
    val batchSpans = traced.filter(_.name == "batch")
    val n = math.max(1, batchSpans.size)
    def named(name: String) = traced.filter(_.name == name)
    def ms(ss: Seq[Span]) = ss.map(_.durNs / 1e6)
    def within(ns: Long, ss: Seq[Span]) = ss.exists(s => ns >= s.startNs && ns <= s.endNs)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def pct(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
    def metric(name: String, v: Double, unit: String, samples: Int) = name -> Metric(v, unit, samples)

    // ---- stream: Structured Streaming's own progress ----
    val stream = Seq(
      metric("stream.trigger_ms_p50", med(timed.map(_.triggerMs.toDouble)), "ms", timed.size),
      metric("stream.add_batch_ms_p50", med(timed.map(_.addBatchMs.toDouble)), "ms", timed.size),
      metric("stream.overhead_ms_p50", med(timed.map(b => (b.triggerMs - b.addBatchMs).toDouble)), "ms",
        timed.size),
      metric("stream.rows_per_batch", med(timed.map(_.rows.toDouble)), "rows", timed.size))

    // ---- transport ----
    val pumps = named("pump")
    val sendSpans = named("transport.send")
    val polled = rig.toBridge.polled.asScala.toVector.filter(p => within(p._1, batchSpans))
    val clipSends = rig.toBridge.clipSends.asScala.toVector.filter(c => within(c._1, batchSpans))
    val transport = Seq(
      metric("transport.pump_ms_p50", med(ms(pumps)), "ms", pumps.size),
      metric("transport.pump_msgs_per_batch", polled.map(_._2).sum.toDouble / n, "msgs", n),
      metric("transport.send_ms_p50", pct(ms(sendSpans), 0.5), "ms", sendSpans.size),
      metric("transport.send_ms_p90", pct(ms(sendSpans), 0.9), "ms", sendSpans.size),
      metric("transport.sends_per_batch", sendSpans.size.toDouble / n, "msgs", n))

    // ---- bql: the workload's own texts, parsed off the hot path ----
    val parseMs = texts.map { t =>
      Stats.median((1 to 3).map { _ =>
        val s = Clock.nowNs
        try Parser.parse(t) catch { case _: Exception => () }
        (Clock.nowNs - s) / 1e6
      })
    }
    val bql = Seq(metric("bql.parse_ms_p50", med(parseMs), "ms", parseMs.size))

    // ---- engine ----
    val process = named("engine.processBatch")
    val ticks = named("engine.tick")
    val ckpts = named("engine.checkpoint")
    val gauges = rig.gauges.asScala.toVector.filter(g => ids(g.batch))
    val engine = Seq(
      metric("engine.process_batch_ms_p50", med(ms(process)), "ms", process.size),
      metric("engine.tick_ms_p50", med(ms(ticks)), "ms", ticks.size),
      metric("engine.checkpoint_ms_p50", med(ms(ckpts)), "ms", ckpts.size),
      metric("engine.checkpoint_kb", med(gauges.map(_.checkpointBytes / 1024.0)), "KB", gauges.size),
      metric("engine.live_queries", med(gauges.map(_.live.toDouble)), "count", gauges.size),
      metric("engine.clips_per_batch", clipSends.size.toDouble / n, "count", n),
      metric("engine.results_queue_len", gauges.lastOption.map(_.resultsQueued.toDouble).getOrElse(0.0),
        "count", gauges.size))

    // ---- spark: actions, jobs and tasks inside the timed batches ----
    val st = rig.sparkTrace.get
    val actions = st.actions.map(a => (Clock.fromEpochMs(a.startMs), Clock.fromEpochMs(a.endMs)))
      .filter { case (s, e) =>
        // the streaming trigger's own execution wraps the whole batch
        batchSpans.exists(b => s >= b.startNs && s <= b.endNs && !(s <= b.startNs && e >= b.endNs))
      }
    val jobs = st.jobs.filter(j => within(Clock.fromEpochMs(j.startMs), batchSpans))
    val phases = st.phases.asScala.toVector.filter(p => within(Clock.fromEpochMs(p.startMs), batchSpans))
    val shuffleKb = st.taskEnds.asScala.filter(t => within(Clock.fromEpochMs(t._1), batchSpans))
      .map(_._2).sum / 1024.0
    val actionMs = actions.map { case (s, e) => (e - s) / 1e6 }.sum
    val actionMsInProcess = actions.filter(a => within(a._1, process)).map { case (s, e) => (e - s) / 1e6 }.sum
    // attach runs a batch only when data arrives, and processBatch closes
    // every due window: every action of the timed batches over every window
    // they closed
    val windows = clipSends.count(_._2 == "Window")
    val spark = Seq(
      metric("spark.actions_per_batch", actions.size.toDouble / n, "count", n),
      metric("spark.jobs_per_batch", jobs.size.toDouble / n, "count", n),
      metric("spark.tasks_per_batch", jobs.map(_.tasks).sum.toDouble / n, "count", n),
      metric("spark.action_ms_per_batch", actionMs / n, "ms", n),
      metric("spark.analysis_ms_per_batch", phases.map(_.analysisMs).sum.toDouble / n, "ms", n),
      metric("spark.optimization_ms_per_batch", phases.map(_.optimizationMs).sum.toDouble / n, "ms", n),
      metric("spark.planning_ms_per_batch", phases.map(_.planningMs).sum.toDouble / n, "ms", n),
      metric("spark.driver_ms_per_batch", (ms(process).sum - actionMsInProcess) / n, "ms", n),
      metric("spark.actions_per_window_close",
        if (windows == 0) 0.0 else actions.size.toDouble / windows, "count", windows),
      metric("spark.shuffle_write_kb_per_batch", shuffleKb / n, "KB", n))

    // ---- clip: JSON rendering of the clips the run emitted ----
    val emitted = rig.captured.map(_.messages).getOrElse(Nil).take(2000)
    val jsonMs = emitted.map { m =>
      Stats.median((1 to 3).map { _ =>
        val s = Clock.nowNs
        m.clip.asJson
        (Clock.nowNs - s) / 1e6
      })
    }
    val clip = Seq(
      metric("clip.json_ms_p50", med(jsonMs), "ms", jsonMs.size),
      metric("clip.kb_p50", med(emitted.map(_.clip.asJson.length / 1024.0)), "KB", emitted.size))

    // ---- self time per layer ----
    val spans = treeOf(traced, timed, actions)
    val self = Spans.selfTimeByLayer(spans)
    val selfMetrics = Seq("stream", "bql", "transport", "engine", "spark").map { l =>
      metric(s"self.${l}_ms_per_batch", self.getOrElse(l, 0L) / 1e6 / n, "ms", n)
    }

    ((stream ++ transport ++ bql ++ engine ++ spark ++ clip ++ selfMetrics).toMap, spans)
  }

  /** The traced spans of the timed batches, under one `trigger` span per
    * batch (Structured Streaming's triggerExecution), with each Spark
    * action under the innermost span that was open when it started. */
  def treeOf(traced: Seq[Span], timed: Seq[BatchInfo], actions: Seq[(Long, Long)]): Seq[Span] = {
    var next = if (traced.isEmpty) 1 else traced.map(_.id).max + 1
    def fresh(): Int = { next += 1; next }
    val triggers = timed.map { b =>
      val s = Clock.fromEpochMs(b.startMs)
      Span(fresh(), -1, "trigger", "stream", b.id, s, s + b.triggerMs * 1000000L)
    }
    val triggerOf = triggers.map(t => t.batch -> t.id).toMap
    val rooted = traced.map(s => if (s.name == "batch") s.copy(parent = triggerOf(s.batch)) else s)
    val sparkSpans = actions.flatMap { case (s, e) =>
      rooted.filter(p => s >= p.startNs && s <= p.endNs).sortBy(_.durNs).headOption
        .map(p => Span(fresh(), p.id, "spark.action", "spark", p.batch, s, e))
    }
    triggers ++ rooted ++ sparkSpans
  }
}

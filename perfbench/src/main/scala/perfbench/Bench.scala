package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Options(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    outDir: java.io.File,
    setups: Int = 3,
    maxSlices: Option[Int] = None)

/** One measured value: what the record prints for it. */
final case class Metric(value: Double, unit: String, samples: Int)

/** What a run observed and checked. */
final case class Report(
    workload: String,
    seed: Long,
    attempted: Int,
    failures: Map[String, Seq[String]],
    problems: Seq[String],
    endToEnd: Map[String, Metric],
    perLayer: Map[String, Metric],
    info: Map[String, Any],
    clipCount: Int,
    terminalCounts: Map[String, Int],
    spans: Seq[Span]) {
  def failed: Int = failures.size
  def correct: Boolean = failures.isEmpty && problems.isEmpty
}

/** Runs one workload: set-up (several times, for `setup_s`), the timed
  * phase, and a drain that ends every query; then checks
  * every clip and derives the metrics. */
object Bench {
  def run(o: Options): Report = {
    val w = Workloads(o.workload, o.seed)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var rig: Rig = null
    def closedLoopUntil(ns: Long): Unit = {
      def more = o.maxSlices.map(rig.slicesAdded < _).getOrElse(Clock.nowNs < ns)
      while (more) { rig.addSlice(w.sliceArrivals(rig.slicesAdded)); rig.awaitProcessed() }
    }
    (1 to o.setups).foreach { k =>
      if (rig != null) rig.close()
      val t0 = Clock.nowNs
      rig = new Rig(w, o.seed, o.trace, o.outDir)
      rig.start()
      // each submit is due as it is sent, once the stream runs; the next
      // batch admits them
      w.initial.foreach(q => rig.submit(q, Clock.nowNs))
      warmUp(rig, w)
      setupS += (Clock.nowNs - t0) / 1e9
      // the first set-up runs the closed loop on, so the JIT has settled
      // before any other set-up or batch is measured
      if (k == 1 && w.closedLoop && o.maxSlices.isEmpty) closedLoopUntil(Clock.nowNs + w.jitWarmMs * 1000000L)
    }

    // the workload runs a lead before timing, so the live set is steady by then
    val origin = Clock.nowNs
    val control = rig.schedule(w.timed(w.leadMs + o.seconds * 1000L), origin)
    // a fixed slice count (tests) replaces the time-bound lead
    if (o.maxSlices.isEmpty) {
      val lead = origin + w.leadMs * 1000000L
      if (w.closedLoop) closedLoopUntil(lead) else Rig.sleepUntil(lead)
    }
    val t0 = Clock.nowNs
    val end = t0 + o.seconds * 1000000000L
    if (w.closedLoop) closedLoopUntil(end) else Rig.sleepUntil(end)
    val t1 = Clock.nowNs
    control.join()
    val slicesLive = rig.slicesAdded
    val drainKilled = drain(rig, w)
    // with the stream stopped no batch is in flight: what stays is what
    // the engine retains
    rig.stopStream()
    val heapMb = heapAfterGc()
    rig.close()
    analyse(rig, o, w, t0, t1, setupS.toSeq, heapMb, slicesLive, drainKilled)
  }

  /** Until the first batches have run (a closed loop runs two: the first
    * compiles the plans) and answered every initial query that owes a
    * result. */
  private def warmUp(rig: Rig, w: Workload): Unit = {
    if (w.closedLoop) (1 to 2).foreach { _ => rig.addSlice(); rig.awaitProcessed() }
    else Rig.waitFor(10000)(rig.batchesDone >= 1)
    val ids = w.initial.filter(_.resultDue).map(_.id).toSet
    Rig.waitFor(w.firstClipDeadlineMs)(ids.subsetOf(rig.received.asScala.map(_._1).toSet))
  }

  /** Waits for due results, kills every query still live, and waits for
    * every terminal signal. Returns the ids the drain killed. */
  private def drain(rig: Rig, w: Workload): Set[String] = {
    def clipped = rig.received.asScala.map(_._1).toSet
    def ended = rig.received.asScala.collect {
      case (id, p) if p.startsWith("Complete\t") || p.startsWith("Kill\t") || p.startsWith("Fail\t") => id
    }.toSet
    val submitted = rig.submits.asScala.values.toSeq
    val specs = submitted.map(_._1)
    val due = specs.filter(_.resultDue).map(_.id).toSet
    // each query owing a result gets until its own first-clip deadline
    val lastDeadline = submitted.filter(_._1.resultDue).map { case (q, dueNs) =>
      dueNs + (w.firstClipDeadlineMs + q.timeWindowMs.getOrElse(0L)) * 1000000L
    }.maxOption.getOrElse(Clock.nowNs)
    Rig.waitFor(math.max(0L, (lastDeadline - Clock.nowNs) / 1000000L))(due.subsetOf(clipped))
    val live = specs.map(_.id).toSet -- ended
    live.toSeq.sorted.foreach(rig.kill)
    if (w.closedLoop) { rig.addSlice(); rig.awaitProcessed() }
    val all = specs.map(_.id).toSet
    Rig.waitFor(30000)(all.subsetOf(ended))
    live
  }

  private def heapAfterGc(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def analyse(rig: Rig, o: Options, w: Workload, t0: Long, t1: Long, setupS: Seq[Double],
      heapMb: Double, slicesLive: Int, drainKilled: Set[String]): Report = {
    val problems = Vector.newBuilder[String]
    if (rig.received.size != rig.toBridge.clipSends.size)
      problems += s"${rig.received.size} clips read back for ${rig.toBridge.clipSends.size} sent"
    val clips = rig.clips
    val byQuery = clips.groupBy(_.queryId)
    val specs = rig.submits.asScala.toMap

    // ---- checks ----
    lazy val slices = (0 until slicesLive).map(i =>
      Events.range(o.seed, i.toLong * w.sliceRows, w.sliceRows)).toVector
    val failures = specs.toSeq.flatMap { case (id, (q, dueNs)) =>
      val cs = byQuery.getOrElse(id, Vector.empty)
      val why = Checks.lifecycle(q, cs, drainKilled(id), dueNs, w.firstClipDeadlineMs) ++
        Checks.results(q, cs, o.seed, slices)
      if (why.isEmpty) None else Some(id -> why)
    }.toMap
    val strays = byQuery.keySet -- specs.keySet
    if (strays.nonEmpty) problems += s"clips for ids never submitted: ${strays.toSeq.sorted.take(5)}"

    // ---- batches and slices ----
    val batches = rig.batches.asScala.toVector.sortBy(_.id)
    def startNs(b: BatchInfo) = Clock.fromEpochMs(b.startMs)
    val timed = batches.filter(b => startNs(b) >= t0 && startNs(b) <= t1)
    val addedByOffset = rig.added.asScala.map(a => a.offset -> a).toMap
    /** The batch a send happened in: the last one started before it. */
    def batchOf(ns: Long): Option[BatchInfo] = batches.takeWhile(b => startNs(b) <= ns).lastOption
    def inTimed(ns: Long) = ns >= t0 && ns <= t1
    val ok = (id: String) => !failures.contains(id)

    // ---- end-to-end ----
    // rows per second of batch execution, the median over the batches: the
    // closed loop's throughput, and the open loop's service rate at its
    // offered load
    val rates = timed.map(b => b.rows / math.max(1e-3, b.triggerMs / 1000.0))
    val windowEmit = clips.filter(c => c.kind == "Window" && inTimed(c.sendNs) && ok(c.queryId))
      .flatMap { c =>
        val q = specs(c.queryId)._1
        val due = q.timeWindowMs match {
          case Some(len) => c.meta("window_start").map(ws => Clock.fromEpochMs(ws.asLong + len))
          case None => batchOf(c.sendNs).flatMap(b => addedByOffset.get(b.endOffset)).map(_.dueNs)
        }
        due.map(d => (c.sendNs - d) / 1e6)
      }
    // the queries whose submit was due in the timed phase
    val arrived = specs.filter { case (_, (_, dueNs)) => inTimed(dueNs) }
    val firstClip = arrived.toSeq.filter { case (id, _) => ok(id) }
      .flatMap { case (id, (q, dueNs)) =>
      byQuery.get(id).map(_.head).filter(_.kind != "Kill").map { c =>
        val wait = if (c.kind == "Window") q.timeWindowMs.getOrElse(0L) else 0L
        (c.sendNs - dueNs) / 1e6 - wait
      }
    }
    val batchS = timed.map(_.triggerMs / 1000.0)
    // the first set-up also loads and compiles the JVM's classes, which a
    // long-lived deployment pays once
    val warmSetups = if (setupS.size > 1) setupS.tail else setupS
    def median(name: String, xs: Seq[Double], unit: String): (String, Metric) = {
      if (xs.isEmpty) problems += s"no samples for $name"
      name -> Metric(Stats.median(xs), unit, xs.size)
    }
    val endToEnd = Map(
      median("records_per_s", rates, "rec/s"),
      median("batch_s_p50", batchS, "s"),
      median("window_emit_ms_p50", windowEmit, "ms"),
      median("first_clip_ms_p50", firstClip, "ms"),
      "setup_s" -> Metric(Stats.median(warmSetups), "s", warmSetups.size),
      "driver_heap_mb" -> Metric(heapMb, "MB", 1))
    // the tails spread too widely between runs to gate on (see the README);
    // the full record reports them with their sample counts
    def p90(xs: Seq[Double]) = Map("value" -> Stats.percentile(xs, 0.9), "unit" -> "ms", "samples" -> xs.size)

    // ---- the generator: lateness and backlog ----
    val timedSlices = rig.added.asScala.toVector.filter(a => inTimed(a.addedNs))
    val lagMs = timedSlices.map(a => (a.addedNs - a.dueNs) / 1e6)
    val backlog = timedSlices.map { a =>
      val in = rig.added.asScala.iterator.filter(_.offset <= a.offset).map(_.rows.toLong).sum
      val done = batches.filter(b => startNs(b) + b.triggerMs * 1000000L <= a.addedNs).map(_.rows).sum
      (a.addedNs, in - done)
    }
    val perTrigger = if (w.closedLoop) w.sliceRows.toLong
      else w.sliceRows.toLong * math.max(1L, w.triggerMs / w.stepMs)
    val (early, late) = backlog.splitAt(backlog.size / 2)
    def peak(xs: Seq[(Long, Long)]) = if (xs.isEmpty) 0L else xs.map(_._2).max
    // the backlog grows when the second half's peak stands clear of the first's
    val sustainable = peak(late) <= math.max(2 * peak(early), 3 * perTrigger)
    // above the sustainable rate latency grows for as long as the run lasts:
    // not a reading to compare
    if (!sustainable) problems += s"backlog grew to ${peak(late)} rows: above the sustainable rate"

    val (layers, spans) =
      if (o.trace) Layers.metrics(rig, timed, specs.values.map(_._1.bql).toSeq)
      else (Map.empty[String, Metric], Seq.empty[Span])
    val perLayer = if (!o.trace) layers else layers ++ Map(
      "gen.lag_ms_p90" -> Metric(if (lagMs.isEmpty) 0.0 else Stats.percentile(lagMs, 0.9), "ms", lagMs.size),
      "gen.backlog_rows_max" -> Metric(peak(backlog).toDouble, "rows", backlog.size))

    val terminals = clips.filter(_.terminal).groupBy(_.kind).map { case (k, v) => k -> v.size }
    Report(w.name, o.seed, specs.size, failures, problems.result(), endToEnd, perLayer,
      Map("window_emit_ms_p90" -> p90(windowEmit), "first_clip_ms_p90" -> p90(firstClip),
        "sustainable" -> sustainable,
        "gen_lag_ms_p90" -> Stats.percentile(lagMs, 0.9),
        "gen_backlog_rows_max" -> peak(backlog),
        "timed_batch_s" -> batchS,
        "timed_s" -> (t1 - t0) / 1e9,
        "setup_s_all" -> setupS),
      clips.size, terminals, spans)
  }
}

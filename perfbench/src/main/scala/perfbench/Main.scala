package perfbench

import graft.streaming.Clip

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--out <dir>]`: runs one workload and prints two JSON lines, the full
  * record and then, last, the compact result:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics untraced and the per-layer metrics traced. A traced run also
  * writes its spans and per-layer metrics to
  * `<out>/trace-<workload>-<seed>.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val load0 = loadavg
    val r =
      try Bench.run(o)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          sys.exit(1) // Spark's non-daemon threads would keep the JVM alive
      }
    val load1 = loadavg
    val nproc = Runtime.getRuntime.availableProcessors()

    def full(ms: Map[String, Metric]) = ms.map { case (k, m) =>
      k -> Map("value" -> m.value, "unit" -> m.unit, "samples" -> m.samples)
    }
    val record = Map(
      "workload" -> r.workload, "seed" -> r.seed, "trace" -> o.trace, "seconds" -> o.seconds,
      "nproc" -> nproc, "loadavg_start" -> load0, "loadavg_end" -> load1,
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "ops_failed_frac" -> r.failed.toDouble / math.max(1, r.attempted),
      "failures" -> r.failures.toSeq.sortBy(_._1).take(10).map { case (id, why) => s"$id: ${why.mkString("; ")}" },
      "problems" -> r.problems,
      "clips" -> r.clipCount, "terminal_signals" -> r.terminalCounts,
      "end_to_end" -> full(r.endToEnd), "per_layer" -> full(r.perLayer)) ++ r.info

    if (o.trace) {
      val f = new java.io.File(o.outDir, s"trace-${r.workload}-${r.seed}.json")
      val spans = r.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "batch" -> s.batch, "start_ms" -> Clock.toEpochMs(s.startNs),
        "end_ms" -> Clock.toEpochMs(s.endNs)))
      java.nio.file.Files.write(f.toPath, Clip.render(record + ("spans" -> spans)).getBytes("UTF-8"))
    }

    val shown = if (o.trace) r.perLayer else r.endToEnd
    val result = Map("correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> shown.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })
    println(Clip.render(record))
    println(Clip.render(result))
    System.out.flush()
    sys.exit(0)
  }

  private def loadavg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.Names.contains(workload))
      usage(s"unknown workload '$workload'; expected one of ${Workloads.Names.mkString(", ")}")
    val seconds = need("seconds").toIntOption.filter(_ > 0).getOrElse(usage("--seconds must be a positive integer"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }
    val seed = need("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val out = new java.io.File(kv.getOrElse("out", "perfbench/out"))
    out.mkdirs()
    Options(workload, seed, seconds, trace, out)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\n" +
      "usage: --workload <name> --seed <n> --seconds <s> --trace <0|1> [--out <dir>]")
    sys.exit(2)
  }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.GraftSession
import graft.streaming.{MemoryResultSink, MultiQueryEngine, SocketTransport, SocketTransportServer,
  TransportBridge}

/** One set-up of the system under test: a Spark session, the engine on a
  * stream of generated events, a `TransportBridge` over a loopback socket
  * transport, and the benchmark's own connection to the same broker.
  *
  * Untraced, the stream runs through `MultiQueryEngine.attach` with the
  * bridge pumped from its `onBatch` hook, as a deployment wires it. Traced,
  * a benchmark-owned `foreachBatch` makes attach's four calls in the same
  * order and records a span around each. */
final class Rig(val w: Workload, val seed: Long, val trace: Boolean, val outDir: java.io.File) {
  import Rig._

  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(trace)

  val spark: SparkSession = {
    val tmp = new java.io.File(outDir, "tmp")
    tmp.mkdirs()
    val s = GraftSession.configure(SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", tmp.getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(tmp, "warehouse").getPath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sparkTrace: Option[SparkTrace] = if (trace) {
    val t = new SparkTrace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    Some(t)
  } else None

  /** Progress of every micro-batch, as Structured Streaming reports it. */
  val batches = new ConcurrentLinkedQueue[BatchInfo]
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      if (d.containsKey("addBatch")) {
        batches.add(BatchInfo(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          d.get("triggerExecution").longValue, d.get("addBatch").longValue, p.numInputRows,
          p.sources.headOption.map(_.endOffset.trim.toLong).getOrElse(-1L)))
      }
    }
  }
  spark.streams.addListener(progressListener)

  val server = new SocketTransportServer(0)
  private val bridgeConnection = new SocketTransport("127.0.0.1", server.port)
  val toBridge = new StampedTransport(bridgeConnection, ClipChannel, tracer)
  /** The benchmark's own connection: it sends feedback and reads clips. */
  val frontend = new SocketTransport("127.0.0.1", server.port)
  val engine = new MultiQueryEngine(spark)
  val bridge = new TransportBridge(engine, toBridge, ClipChannel, FeedbackChannel)
  val captured: Option[MemoryResultSink] =
    if (trace) { val s = new MemoryResultSink; engine.addSink(s); Some(s) } else None

  private val mem = MemoryStream[Event](spark, nproc)(Encoders.product[Event])
  val recoveryDir: Option[String] =
    if (w.checkpoint) Some(new java.io.File(outDir, s"ckpt-${System.nanoTime()}").getPath) else None

  /** Per-batch gauges of the traced loop. */
  val gauges = new ConcurrentLinkedQueue[Gauges]

  // ---- the data stream ----

  /** Each slice added to the source. */
  val added = new ConcurrentLinkedQueue[Added]
  @volatile private var nextSlice = 0
  @volatile private var generating = true
  private var generator: Option[Thread] = None

  private def sliceRows(i: Int): Seq[Event] =
    Events.range(seed, i.toLong * w.sliceRows, w.sliceRows).toSeq

  /** Closed loop: submits `arrivals`, each due as it is sent, then adds the
    * next slice, due as it is added. The rows are made first, so the
    * generator's own work never counts in a latency. */
  def addSlice(arrivals: Seq[QuerySpec] = Nil): Unit = {
    val rows = sliceRows(nextSlice)
    arrivals.foreach(q => submit(q, Clock.nowNs))
    addRows(rows, Clock.nowNs)
  }

  private def addRows(rows: Seq[Event], dueNs: Long): Unit = {
    val off = mem.addData(rows).json.toLong
    added.add(Added(nextSlice, off, dueNs, Clock.nowNs, rows.length))
    nextSlice += 1
  }

  def slicesAdded: Int = nextSlice

  /** Open loop: a slice every `stepMs`, on a schedule that does not wait
    * for the engine. Each slice's rows are made before it is due. */
  private def startGenerator(): Unit = if (!w.closedLoop) {
    val origin = Clock.nowNs
    val t = new Thread(() => {
      var k = 0L
      while (generating) {
        val due = origin + k * w.stepMs * 1000000L
        val rows = sliceRows(nextSlice)
        sleepUntil(due)
        if (generating) addRows(rows, due)
        k += 1
      }
    }, "perfbench-generator")
    t.setDaemon(true)
    t.start()
    generator = Some(t)
  }

  // ---- the clip channel ----

  /** Every clip read back, in channel order. */
  val received = new ConcurrentLinkedQueue[(String, String)]
  @volatile private var reading = true
  private val reader = new Thread(() => {
    while (reading) {
      val got = frontend.poll(ClipChannel)
      got.foreach(received.add)
      if (got.isEmpty) Thread.sleep(2)
    }
  }, "perfbench-clip-reader")
  reader.setDaemon(true)

  /** The clips read back so far, each with when its send returned. */
  def clips: Vector[ClipMsg] = received.asScala.toVector.zip(toBridge.clipSends.asScala).map {
    case ((id, payload), (ns, _)) => ClipMsg(id, payload, ns)
  }

  // ---- the feedback channel ----

  /** Every query submitted, with when its submit was due. */
  val submits = new java.util.concurrent.ConcurrentHashMap[String, (QuerySpec, Long)]

  def submit(q: QuerySpec, dueNs: Long): Unit = {
    frontend.send(FeedbackChannel, q.id, s"submit\t${q.id}\t${q.bql}")
    submits.put(q.id, (q, dueNs))
  }

  def kill(id: String): Unit = frontend.send(FeedbackChannel, id, s"kill\t$id")

  /** Sends each query's submit (and kill, if it has one) at its due time
    * after `originNs`, on a thread of its own; returns that thread. */
  def schedule(qs: Seq[QuerySpec], originNs: Long): Thread = {
    val events = (qs.map(q => (q.dueMs, 0, q)) ++ qs.flatMap(q => q.killMs.map(k => (k, 1, q))))
      .sortBy(e => (e._1, e._2, e._3.id))
    val t = new Thread(() => events.foreach { case (ms, what, q) =>
      val due = originNs + ms * 1000000L
      sleepUntil(due)
      if (what == 0) submit(q, due) else kill(q.id)
    }, "perfbench-control")
    t.setDaemon(true)
    t.start()
    t
  }

  // ---- the stream ----

  private var query: StreamingQuery = _

  def start(): Unit = {
    val df = mem.toDF()
    query =
      if (!trace) engine.attach(df, w.triggerMs, recoveryDir, onBatch = () => bridge.pump())
      else tracedAttach(df)
    reader.start()
    startGenerator()
  }

  /** `attach`'s loop, made by the benchmark so each call can be timed. */
  private def tracedAttach(df: DataFrame): StreamingQuery = {
    recoveryDir.foreach(engine.restoreFromDir)
    df.writeStream
      .trigger(Trigger.ProcessingTime(w.triggerMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.span("batch", "stream", id) {
          tracer.span("pump", "bql")(bridge.pump())
          tracer.span("engine.processBatch", "engine")(engine.processBatch(batch))
          tracer.span("engine.tick", "engine")(engine.tick())
          recoveryDir.foreach { d =>
            tracer.span("engine.checkpoint", "engine")(engine.checkpointToDir(d))
          }
        }
        gauges.add(Gauges(id, engine.activeQueryIds.size, engine.results.size,
          recoveryDir.map(d => new java.io.File(d, "graft.ckpt").length).getOrElse(0L)))
        ()
      }
      .start()
  }

  /** Closed loop: block until every added slice has been processed. */
  def awaitProcessed(): Unit = query.processAllAvailable()

  def batchesDone: Int = batches.size

  /** Stops the generator and the stream; the engine keeps its state. */
  def stopStream(): Unit = {
    generating = false
    generator.foreach(_.join(10000))
    if (query != null) query.stop()
  }

  /** Stops the data and control plane, then every thread and the session. */
  def close(): Unit = {
    stopStream()
    reading = false
    reader.join(10000)
    frontend.poll(ClipChannel).foreach(received.add)
    org.apache.spark.graftshim.MetricsBridge.waitListenerBus(spark.sparkContext)
    bridgeConnection.close()
    frontend.close()
    server.close()
    spark.streams.removeListener(progressListener)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    recoveryDir.foreach(d => Option(new java.io.File(d).listFiles).foreach { fs =>
      fs.foreach(_.delete())
      new java.io.File(d).delete()
    })
  }
}

object Rig {
  val ClipChannel = "graft.clips"
  val FeedbackChannel = "graft.feedback"

  def sleepUntil(ns: Long): Unit = {
    var left = ns - Clock.nowNs
    while (left > 0) {
      Thread.sleep(left / 1000000L, (left % 1000000L).toInt)
      left = ns - Clock.nowNs
    }
  }

  /** Polls `cond` every few ms; false if it did not hold within `ms`. */
  def waitFor(ms: Long)(cond: => Boolean): Boolean = {
    val end = Clock.nowNs + ms * 1000000L
    while (!cond && Clock.nowNs < end) Thread.sleep(5)
    cond
  }
}

/** One micro-batch's progress: trigger start (epoch ms), triggerExecution
  * and addBatch ms, input rows, and the source's end offset. */
final case class BatchInfo(id: Long, startMs: Long, triggerMs: Long, addBatchMs: Long, rows: Long,
    endOffset: Long)

final case class Added(index: Int, offset: Long, dueNs: Long, addedNs: Long, rows: Int)

final case class Gauges(batch: Long, live: Int, resultsQueued: Int, checkpointBytes: Long)

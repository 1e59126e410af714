package perfbench

import java.sql.Timestamp

/** One input record, with the columns of the engine's `events` fixture. */
final case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

/** The seeded event sequence, fitted to the engine's `events` fixture as
  * `fixture_stats.py` measures it (the figures are in the README): users
  * uniform over 1500 ids, the five event types in equal shares, `value`
  * exponential with mean 50 at two decimals, `props` `{"k": 0..99}`
  * uniform, `ts` rising 25.92 s a record on average. The columns are
  * independent, as in the fixture. Record `id` depends only on
  * `(seed, id)`, so any slice can be regenerated to check a result. */
object Events {
  val Types: Vector[String] = Vector("click", "view", "purchase", "signup", "error")
  val Users = 1500
  val ValueMean = 50.0
  val TsStepMs = 25920L
  private val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  def at(seed: Long, id: Long): Event = {
    val r = new java.util.SplittableRandom(Seeds.mix(seed, id))
    val value = math.round(-math.log(1.0 - r.nextDouble()) * ValueMean * 100.0) / 100.0
    Event(id, new Timestamp(BaseMs + id * TsStepMs + r.nextLong(TsStepMs)), r.nextInt(Users).toLong,
      Types(r.nextInt(Types.size)), value, s"""{"k": ${r.nextInt(100)}}""")
  }

  def range(seed: Long, first: Long, n: Int): Array[Event] =
    Array.tabulate(n)(i => at(seed, first + i))
}

object Seeds {
  /** SplitMix64 finaliser over a pair: independent streams per (seed, key). */
  def mix(seed: Long, key: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + key * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** A WHERE clause the benchmark can both render as BQL and evaluate itself. */
sealed trait Pred {
  def bql: String
  def holds(user: Long, eventType: String, value: Double): Boolean
  def holds(e: Event): Boolean = holds(e.user_id, e.event_type, e.value)
}
object Pred {
  final case class ValueGt(v: Int) extends Pred {
    def bql = s"value > $v"
    def holds(u: Long, t: String, x: Double): Boolean = x > v
  }
  final case class UserMod(m: Int, r: Int) extends Pred {
    def bql = s"user_id % $m == $r"
    def holds(u: Long, t: String, x: Double): Boolean = u % m == r
  }
  final case class TypeIs(name: String) extends Pred {
    def bql = s"event_type == '$name'"
    def holds(u: Long, t: String, x: Double): Boolean = t == name
  }
  final case class Both(a: Pred, b: Pred) extends Pred {
    def bql = s"${a.bql} AND ${b.bql}"
    def holds(u: Long, t: String, x: Double): Boolean = a.holds(u, t, x) && b.holds(u, t, x)
  }
}

/** What the benchmark verifies about one query's clips, beyond the
  * lifecycle rules every query obeys. */
sealed trait Check
object Check {
  /** Lifecycle only (every clip parses, one terminal signal). */
  case object Lifecycle extends Check
  /** Malformed text: exactly one FAIL and nothing else. */
  case object Malformed extends Check
  /** RAW: at most `limit` rows, each an input record satisfying `pred`. */
  final case class Raw(limit: Int, pred: Pred) extends Check
  /** `COUNT(*) AS cnt, SUM(user_id) AS su` over ALL records: exact against a recompute. */
  final case class Count(pred: Pred) extends Check
  /** `event_type, COUNT(*) AS cnt, SUM(user_id) AS su ... GROUP BY event_type`: exact. */
  final case class Groups(pred: Pred) extends Check
  /** `COUNT(DISTINCT user_id) AS nu`: within the Theta sketch's error. */
  final case class Distinct(pred: Pred) extends Check
  /** `QUANTILE(value, 0.5) AS q`: within the KLL sketch's rank error. */
  final case class Median(pred: Pred) extends Check
  /** A window of a RECORD-windowed count: `cnt` equals the window's `records` meta. */
  case object WindowCount extends Check
  /** Keyed window with `HAVING cnt > having ORDER BY cnt DESC LIMIT limit`. */
  final case class TopGroups(having: Int, limit: Int) extends Check

  /** Whether the check compares ALL-window clips with a recompute over the slices. */
  def isProbe(c: Check): Boolean = c match {
    case _: Count | _: Groups | _: Distinct | _: Median => true
    case _ => false
  }
}

/** One query the workload submits over the feedback channel.
  *
  * @param dueMs   when its submit is due, from the start of its phase
  * @param killMs  when a kill for it is due, from the same origin
  * @param ends    the terminal signals it may end with
  * @param timeWindowMs the length of its TIME window, if it has one
  * @param resultDue whether a result clip is due soon after the submit;
  *        false for a query with no window, which reports only when it ends */
final case class QuerySpec(
    id: String,
    bql: String,
    check: Check,
    ends: Set[String],
    dueMs: Long = 0L,
    killMs: Option[Long] = None,
    timeWindowMs: Option[Long] = None,
    resultDue: Boolean = true)

/** A workload: the data stream's shape and the queries sent against it.
  *
  * @param stepMs   0 for a closed loop (the next slice is added once the
  *                 previous batch has finished); otherwise the open-loop
  *                 period at which `sliceRows` rows are added
  * @param initial  submitted during set-up, before the first batch
  * @param timed    arrivals over the given span: `leadMs` before timing, then the timed phase
  * @param leadMs   how long the workload runs before timing starts, so the
  *                 live set is steady when it does
  * @param jitWarmMs closed loop: how long the first set-up runs the loop on,
  *                 so the JIT has settled before anything is measured
  * @param sliceArrivals closed loop: the queries submitted just before slice
  *                 `i` is added, in the lead and the timed phase */
final case class Workload(
    name: String,
    triggerMs: Long,
    sliceRows: Int,
    stepMs: Long,
    initial: Seq[QuerySpec],
    timed: Long => Seq[QuerySpec],
    leadMs: Long,
    jitWarmMs: Long,
    checkpoint: Boolean,
    firstClipDeadlineMs: Long,
    sliceArrivals: Int => Seq[QuerySpec] = _ => Nil) {
  def closedLoop: Boolean = stepMs == 0L
}

object Workloads {
  val Names: Seq[String] = Seq("fused_mix", "churn")

  private val Complete = "Complete"
  private val Kill = "Kill"
  private val Fail = "Fail"

  def apply(name: String, seed: Long): Workload = name match {
    case "fused_mix" => fusedMix(seed)
    case "churn" => churn(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }

  /** 160 long-lived queries over a closed loop of fixed slices. Every
    * tenth query is a probe: an `EVERY(1, RECORD, ALL)` query whose
    * cumulative result is checked against a recompute. Most probes are
    * Theta/KLL, whose windows close on the driver; two COUNT/SUM and two
    * GROUP BY probes close a window with a Spark job each batch. No TIME
    * windows and no checkpoint, so batch time is the fused tiers' plan
    * analysis and shared scans. Before each slice one RAW `LIMIT k` query
    * arrives; the batch of that slice admits it and completes it, which
    * times admission (`first_clip_ms`) in steady state without changing
    * the long-lived queries' fused tiers. */
  def fusedMix(seed: Long): Workload = {
    val r = new java.util.SplittableRandom(Seeds.mix(seed, 1L))
    val all = Set(Kill)
    val probeKinds = Seq("count", "distinct", "median", "distinct", "groups", "median", "distinct", "median")
    val shapes = (0 until 160).map(i => if (i % 10 == 9) probeKinds((i / 10) % probeKinds.size) else s"q${i % 9}")
    // `value > v` keeps e^(-v/50) of the rows: each shape gets the same
    // thresholds under every seed, so the work does not depend on the seed
    val thresholds = shapes.distinct.sorted.map(k => k -> evenly(r, shapes.count(_ == k), 100)).toMap
    val queries = (0 until 160).map { i =>
      val v = thresholds(shapes(i)).next()
      val m = r.nextInt(50)
      val uid = r.nextInt(Events.Users).toLong
      val id = f"m$i%03d"
      if (i % 10 == 9) {
        val every = " WINDOWING EVERY(1, RECORD, ALL)"
        shapes(i) match {
          case "count" =>
            val p = Pred.ValueGt(v)
            QuerySpec(id, s"SELECT COUNT(*) AS cnt, SUM(user_id) AS su FROM STREAM WHERE ${p.bql}$every",
              Check.Count(p), all)
          case "groups" =>
            val p = Pred.UserMod(7, m % 7)
            QuerySpec(id, "SELECT event_type, COUNT(*) AS cnt, SUM(user_id) AS su FROM STREAM " +
              s"WHERE ${p.bql} GROUP BY event_type$every", Check.Groups(p), all)
          case "distinct" =>
            val p = Pred.ValueGt(v)
            QuerySpec(id, s"SELECT COUNT(DISTINCT user_id) AS nu FROM STREAM WHERE ${p.bql}$every",
              Check.Distinct(p), all)
          case _ =>
            val p = Pred.UserMod(10, m % 10)
            QuerySpec(id, s"SELECT QUANTILE(value, 0.5) AS q FROM STREAM WHERE ${p.bql}$every",
              Check.Median(p), all)
        }
      } else {
        val bql = i % 9 match {
          case 0 => s"SELECT COUNT(DISTINCT user_id) AS nu FROM STREAM WHERE value > $v"
          case 1 => s"SELECT QUANTILE(value, 0.5) AS q FROM STREAM WHERE user_id % 50 == $m"
          case 2 => s"SELECT PMF(value, 50) AS n FROM STREAM WHERE user_id % 25 == ${m % 25}"
          case 3 => s"SELECT COUNT(*) AS cnt, SUM(value) AS sv FROM STREAM WHERE value > $v"
          case 4 => "SELECT event_type, COUNT(*) AS cnt FROM STREAM " +
            s"WHERE value > $v GROUP BY event_type"
          case 5 => s"SELECT TOP(3, event_type) AS cnt FROM STREAM WHERE user_id % 50 == $m"
          case 6 => s"SELECT COUNT(*) AS cnt, SUM(value) AS sv FROM STREAM WHERE user_id == $uid"
          case 7 => s"SELECT COUNT(DISTINCT event_type) AS ne FROM STREAM WHERE user_id == $uid"
          case _ => s"SELECT QUANTILE(value, 0.5) AS q FROM STREAM WHERE user_id == $uid"
        }
        QuerySpec(id, bql, Check.Lifecycle, all, resultDue = false)
      }
    }
    def arrival(i: Int): Seq[QuerySpec] = {
      val r = new java.util.SplittableRandom(Seeds.mix(seed, 1000000L + i))
      val p = if (i % 2 == 0) Pred.ValueGt(r.nextInt(100))
        else Pred.Both(Pred.TypeIs(Events.Types(r.nextInt(Events.Types.size))), Pred.ValueGt(r.nextInt(50)))
      val limit = 1 + r.nextInt(10)
      Seq(QuerySpec(f"r$i%05d", s"SELECT event_id, user_id, event_type, value FROM STREAM WHERE ${p.bql} " +
        s"LIMIT $limit", Check.Raw(limit, p), Set(Complete)))
    }
    Workload("fused_mix", triggerMs = 0L, sliceRows = 10000, stepMs = 0L,
      initial = queries, timed = _ => Seq.empty, leadMs = 4000L, jitWarmMs = 22000L,
      checkpoint = false, firstClipDeadlineMs = 60000L, sliceArrivals = arrival)
  }

  /** `n` thresholds spread evenly over [0, span), in a seeded order. */
  private def evenly(r: java.util.SplittableRandom, n: Int, span: Int): Iterator[Int] = {
    val xs = Array.tabulate(n)(k => ((k + 0.5) * span / n).toInt)
    (n - 1 to 1 by -1).foreach { k =>
      val j = r.nextInt(k + 1)
      val t = xs(k); xs(k) = xs(j); xs(j) = t
    }
    xs.iterator
  }

  /** An open-loop control plane over a small fixed-rate stream, with a
    * checkpoint written every batch. Queries arrive 3/s, evenly spaced with
    * seeded jitter, in a fixed rotation of kinds, so every seed runs the
    * same mix and the seed picks literals and timing:
    *  - RAW `LIMIT k` (35 %), complete at the first batch that sees them;
    *  - Theta/KLL (35 %), COUNT/SUM (10 %) and GROUP BY (5 %) over small
    *    RECORD windows, ended by DURATION: each window closes at a batch
    *    boundary, COUNT/SUM and GROUP BY with one present job each;
    *  - keyed GROUP BYs with HAVING/ORDER BY/LIMIT over 2 s TIME windows (10 %);
    *  - one in ten killed by a later message, one in twenty malformed. */
  def churn(seed: Long): Workload = {
    def arrivals(stream: Long, spanMs: Long, prefix: String, kills: Boolean): Seq[QuerySpec] = {
      val r = new java.util.SplittableRandom(Seeds.mix(seed, stream))
      val gapMs = 1000.0 / 3
      (0 until (spanMs / gapMs).toInt).map { i =>
        val due = ((i + 0.5 + 0.8 * (r.nextDouble() - 0.5)) * gapMs).toLong
        churnQuery(r, f"$prefix$i%04d", i, due, kills)
      }
    }
    Workload("churn", triggerMs = 1000L, sliceRows = 200, stepMs = 100L,
      initial = arrivals(3L, 2000L, "cw", kills = false).map(_.copy(dueMs = 0L)),
      timed = span => arrivals(4L, span, "c", kills = true), leadMs = 4000L, jitWarmMs = 0L,
      checkpoint = true, firstClipDeadlineMs = 5000L)
  }

  private def churnQuery(r: java.util.SplittableRandom, id: String, i: Int, due: Long,
      kills: Boolean): QuerySpec = {
    val t = Events.Types(r.nextInt(Events.Types.size))
    val v = r.nextInt(40)
    val slot = i % 20
    val kill = kills && (slot == 9 || slot == 18)
    // fixed lifetimes keep the live set the same size in every run; a
    // killed query lives seconds past its kill, since a DURATION expiring
    // in the tick before the kill is pumped would end it with COMPLETE
    val durationMs = if (kill) 6000 else 2000
    val killAt = due + 300 + r.nextInt(1000)
    def killed(q: QuerySpec): QuerySpec =
      if (kill) q.copy(ends = Set(Kill), killMs = Some(killAt)) else q
    slot match {
      case 0 =>
        val bad = Seq("SELECT COUNT( FROM STREAM", "SELECT event_id FROM STREAM WHERE",
          s"SELECT * FROM STREAM LIMIT $id")(r.nextInt(3))
        QuerySpec(id, bad, Check.Malformed, Set(Fail), due)
      case s if s <= 7 =>
        val p = if (s % 2 == 0) Pred.ValueGt(v) else Pred.Both(Pred.TypeIs(t), Pred.ValueGt(v / 4))
        val limit = 1 + r.nextInt(10)
        QuerySpec(id, s"SELECT event_id, user_id, event_type, value FROM STREAM WHERE ${p.bql} LIMIT $limit",
          Check.Raw(limit, p), Set(Complete), due)
      case s if s <= 9 =>
        killed(QuerySpec(id, s"SELECT COUNT(*) AS cnt, SUM(value) AS sv FROM STREAM WHERE value > $v " +
          s"WINDOWING EVERY(40, RECORD, WINDOW) DURATION $durationMs",
          Check.WindowCount, Set(Complete), due))
      case 10 =>
        QuerySpec(id, s"SELECT event_type, COUNT(*) AS cnt FROM STREAM WHERE value > $v " +
          s"GROUP BY event_type WINDOWING EVERY(50, RECORD, WINDOW) DURATION $durationMs",
          Check.WindowCount, Set(Complete), due)
      case s if s <= 17 =>
        val agg = if (s % 2 == 0) "COUNT(DISTINCT user_id) AS nu" else "QUANTILE(value, 0.5) AS q"
        QuerySpec(id, s"SELECT $agg FROM STREAM WHERE value > $v " +
          s"WINDOWING EVERY(40, RECORD, WINDOW) DURATION ${durationMs + 1000}",
          Check.Lifecycle, Set(Complete), due)
      case _ =>
        val windowMs = 2000L
        val having = 5 + r.nextInt(20)
        val limit = 2 + r.nextInt(4)
        killed(QuerySpec(id, s"SELECT event_type, COUNT(*) AS cnt, AVG(value) AS av FROM STREAM " +
          s"WHERE value > $v GROUP BY event_type HAVING cnt > $having ORDER BY cnt DESC " +
          s"WINDOWING EVERY($windowMs, TIME, WINDOW) LIMIT $limit DURATION ${2 * windowMs + durationMs - 2000}",
          Check.TopGroups(having, limit), Set(Complete), due, timeWindowMs = Some(windowMs)))
    }
  }
}

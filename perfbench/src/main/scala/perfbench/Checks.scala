package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.datasketches.kll.KllSketch

/** One message read off the clip channel.
  *
  * @param sendNs when the bridge's send of it returned */
final case class ClipMsg(queryId: String, kind: String, json: Option[JsonNode], sendNs: Long) {
  def terminal: Boolean = kind == "Complete" || kind == "Kill" || kind == "Fail"
  def meta(field: String): Option[JsonNode] = json.flatMap(j => Option(j.path("meta").get(field)))
  def records: Seq[JsonNode] =
    json.map(_.path("records").elements().asScala.toVector).getOrElse(Vector.empty)
}

object ClipMsg {
  private val mapper = new ObjectMapper

  /** A clip payload is `kind \t clip-json`; the JSON is None if it does not parse. */
  def apply(queryId: String, payload: String, sendNs: Long): ClipMsg = {
    val tab = payload.indexOf('\t')
    val kind = if (tab < 0) payload else payload.substring(0, tab)
    val json =
      try Option(mapper.readTree(payload.substring(tab + 1))).filter(_.isObject)
      catch { case _: Exception => None }
    ClipMsg(queryId, kind, json, sendNs)
  }
}

/** The output checks. Each returns the reasons a query failed; a query
  * with any reason counts in `failed` and is left out of every latency. */
object Checks {
  /** Theta sketch at the engine's default lgK = 12: relative standard
    * error 1/sqrt(4096); three of them bound the error at 99.7%. */
  val ThetaBound: Double = 3.0 / 64.0
  /** KLL at the engine's streaming default k = 2048: normalised rank error
    * for a single quantile (99% confidence). */
  val KllRankBound: Double = KllSketch.getNormalizedRankError(2048, false)

  /** Lifecycle rules every query obeys: each clip parses, exactly one
    * terminal signal, nothing after it, an allowed end, and a first clip
    * within the deadline when a result is due. */
  def lifecycle(q: QuerySpec, clips: Seq[ClipMsg], drainKilled: Boolean, dueNs: Long,
      deadlineMs: Long): Seq[String] = {
    val out = Vector.newBuilder[String]
    if (clips.exists(_.json.isEmpty)) out += "a clip does not parse"
    val terminals = clips.filter(_.terminal)
    if (terminals.size != 1) out += s"${terminals.size} terminal signals"
    terminals.headOption.foreach { t =>
      val allowed = if (drainKilled) q.ends + "Kill" else q.ends
      if (!allowed(t.kind))
        out += s"ended with ${t.kind}" + t.meta("errors").map(e => s" ${e.toString}").getOrElse("")
      if (clips.last ne t) out += "a clip after the terminal signal"
    }
    if (q.resultDue) clips.headOption match {
      case Some(c) if c.kind == "Kill" && drainKilled => out += "no result before the end of the run"
      case Some(c) if (c.sendNs - dueNs) / 1e6 > deadlineMs + q.timeWindowMs.getOrElse(0L) =>
        out += f"first clip after ${(c.sendNs - dueNs) / 1e6}%.0f ms"
      case Some(_) => ()
      case None => out += "no clip"
    }
    out.result()
  }

  /** The checks of the query's own results. `slices` are the inputs every
    * ALL-window probe saw, in order (probes only). */
  def results(q: QuerySpec, clips: Seq[ClipMsg], seed: Long, slices: => Seq[Array[Event]]): Seq[String] =
    q.check match {
      case Check.Malformed =>
        if (clips.map(_.kind) == Seq("Fail")) Seq.empty else Seq("malformed text not answered by one FAIL")
      case Check.Raw(limit, pred) =>
        clips.filter(_.kind == "Complete").flatMap { c =>
          val rs = c.records
          val over = if (rs.size > limit) Seq(s"${rs.size} RAW rows over LIMIT $limit") else Seq.empty
          over ++ rs.flatMap(r => rawRow(r, pred, seed)).take(1)
        }
      case Check.WindowCount =>
        clips.filter(_.kind == "Window").flatMap { c =>
          val cnt = c.records.map(_.path("cnt").asLong).sum
          val recs = c.meta("records").map(_.asLong).getOrElse(-1L)
          if (cnt == recs) None else Some(s"window count $cnt != its records meta $recs")
        }.take(1)
      case Check.TopGroups(having, limit) =>
        clips.filter(c => c.kind == "Window" || c.kind == "Complete").flatMap { c =>
          val cnts = c.records.map(_.path("cnt").asLong)
          if (cnts.size > limit) Some(s"${cnts.size} groups over LIMIT $limit")
          else if (cnts.exists(_ <= having)) Some(s"a group with cnt <= HAVING $having")
          else if (cnts != cnts.sorted.reverse) Some("groups not in ORDER BY cnt DESC")
          else None
        }.take(1)
      case c if Check.isProbe(c) => probe(c, clips.filter(_.kind == "Window"), slices)
      case _ => Seq.empty
    }

  private def rawRow(r: JsonNode, pred: Pred, seed: Long): Option[String] = {
    val e = Events.at(seed, r.path("event_id").asLong)
    val same = r.path("user_id").asLong == e.user_id && r.path("event_type").asText == e.event_type &&
      r.path("value").asDouble == e.value
    if (!same) Some(s"RAW row ${r.toString} is not input record ${e.event_id}")
    else if (!pred.holds(e)) Some(s"RAW row ${r.toString} fails WHERE ${pred.bql}")
    else None
  }

  /** An ALL-window probe emits once per slice with a matching record; the
    * k-th clip must equal the recompute over every slice up to that one. */
  private def probe(c: Check, windows: Seq[ClipMsg], slices: Seq[Array[Event]]): Seq[String] = {
    val pred = c match {
      case Check.Count(p) => p
      case Check.Groups(p) => p
      case Check.Distinct(p) => p
      case Check.Median(p) => p
      case _ => return Seq.empty
    }
    def compare(w: ClipMsg, es: mutable.ArrayBuffer[Event]): Option[String] = {
      val rs = w.records
      c match {
        case _: Check.Count =>
          val got = rs.headOption.map(r => (r.path("cnt").asLong, r.path("su").asLong))
          val want = (es.size.toLong, es.iterator.map(_.user_id).sum)
          if (got.contains(want)) None else Some(s"COUNT/SUM $got != recompute $want")
        case _: Check.Groups =>
          val got = rs.map(r => r.path("event_type").asText -> (r.path("cnt").asLong, r.path("su").asLong)).toMap
          val want = es.groupBy(_.event_type).map { case (t, g) => t -> (g.size.toLong, g.map(_.user_id).sum) }
          if (got == want) None else Some(s"GROUP BY $got != recompute $want")
        case _: Check.Distinct =>
          val got = rs.headOption.map(_.path("nu").asLong).getOrElse(-1L)
          val want = es.iterator.map(_.user_id).distinct.size
          if (math.abs(got - want) <= ThetaBound * want) None
          else Some(s"COUNT DISTINCT $got outside ${ThetaBound * 100}% of $want")
        case _ =>
          val got = rs.headOption.map(_.path("q").asDouble).getOrElse(Double.NaN)
          val lo = es.count(_.value < got).toDouble / es.size
          val hi = es.count(_.value <= got).toDouble / es.size
          if (hi >= 0.5 - KllRankBound && lo <= 0.5 + KllRankBound) None
          else Some(f"median $got%.2f has rank [$lo%.4f, $hi%.4f], outside 0.5 +- $KllRankBound%.4f")
      }
    }
    val seen = mutable.ArrayBuffer.empty[Event]
    val errors = Vector.newBuilder[String]
    var k = 0
    slices.foreach { s =>
      val m = s.filter(pred.holds)
      if (m.nonEmpty) {
        seen ++= m
        if (k < windows.size) errors ++= compare(windows(k), seen)
        k += 1
      }
    }
    if (k != windows.size) errors += s"${windows.size} ALL-window clips for $k matching slices"
    errors.result().take(1)
  }
}

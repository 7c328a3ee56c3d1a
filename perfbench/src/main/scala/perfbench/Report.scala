package perfbench

import scala.jdk.CollectionConverters._

/** Turns one traced run's spans and engine events into the per-layer table.
  * Every job, stage and Catalyst execution is charged to the innermost span
  * open at its start time; `semantic` spans count toward the `marts` layer.
  */
final class Report(spans: Seq[Span], log: EngineLog, cpus: Int, tracedOps: Int) {
  val engineLayers = Seq("sources", "vault", "marts", "quality", "streaming", "queries", "operators")
  private def engineLayer(s: Span) = if (s.layer == "semantic") "marts" else s.layer

  private val byStart = spans.sortBy(s => (s.startMs, s.id))
  /** The innermost span open at `t`, if any. */
  def spanAt(t: Long): Option[Span] = byStart.filter(_.contains(t)).lastOption

  private val jobs = log.jobs.asScala.toSeq
  private val stages = log.stages.asScala.values.toSeq.filter(_.submitMs != Long.MaxValue)
  private val catalyst = log.catalyst.asScala.toSeq

  private def charged[T](xs: Seq[T], t: T => Long): Map[Int, Seq[T]] =
    xs.flatMap(x => spanAt(t(x)).map(_.id -> x)).groupMap(_._1)(_._2)
  private val jobsBy = charged[(Long, Long)](jobs, _._1)
  private val stagesBy = charged[StageAgg](stages, _.submitMs)
  private val catalystBy = charged[(Long, Long)](catalyst, _._1)

  def catalystMs(span: Span): Long = catalystBy.getOrElse(span.id, Nil).map(_._2).sum
  def inputRecords(layer: String): Long = inLayer(layer)
    .flatMap(s => stagesBy.getOrElse(s.id, Nil)).map(_.inputRecords.get).sum

  private def inLayer(layer: String) = spans.filter(engineLayer(_) == layer)
  /** Top-level spans of a layer: those whose parent is in another layer. */
  private def roots(layer: String) = {
    val ids = spans.map(s => s.id -> s).toMap
    inLayer(layer).filter(s => ids.get(s.parent).forall(p => engineLayer(p) != layer))
  }

  /** Wall of `intervals` (clipped to [a, b]) covered by at least one of them. */
  private def covered(a: Long, b: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (x, y) => (math.max(a, x), math.min(b, y)) }
      .filter { case (x, y) => x < y }.sortBy(_._1)
    clipped.foldLeft((0L, a)) { case ((acc, reach), (x, y)) =>
      if (y <= reach) (acc, reach) else (acc + y - math.max(x, reach), y)
    }._1
  }

  /** The twelve engine counters of one layer, per traced operation. */
  def engine(layer: String): Map[String, Double] = {
    val ss = inLayer(layer)
    val st = ss.flatMap(s => stagesBy.getOrElse(s.id, Nil))
    val wallS = roots(layer).map(_.wallNs).sum / 1e9
    val runS = st.map(_.runMs.get).sum / 1e3
    val busyS = roots(layer).map(r => covered(r.startMs, r.endMs, jobs)).sum / 1e3
    val n = math.max(1, tracedOps).toDouble
    Map(
      "jobs" -> ss.map(s => jobsBy.getOrElse(s.id, Nil).size).sum / n,
      "stages" -> st.size / n,
      "tasks" -> st.map(_.tasks.get).sum / n,
      "shuffle_read_bytes" -> st.map(_.shuffleRead.get).sum / n,
      "shuffle_write_bytes" -> st.map(_.shuffleWrite.get).sum / n,
      "spill_bytes" -> st.map(_.spill.get).sum / n,
      "input_bytes" -> st.map(_.inputBytes.get).sum / n,
      "gc_s" -> st.map(_.gcMs.get).sum / 1e3 / n,
      "executor_run_s" -> runS / n,
      "catalyst_s" -> ss.map(catalystMs).sum / 1e3 / n,
      "slot_busy_frac" -> (if (wallS > 0) runS / (wallS * cpus) else 0.0),
      "driver_gap_s" -> math.max(0.0, wallS - busyS) / n
    ).map { case (k, v) => s"engine.$layer.$k" -> v }
  }

  /** Median over traced operations of the summed wall of spans named `name`
    * (or, for a bare layer name, of every span in that layer).
    */
  def spanSeconds(name: String): Double = {
    val per = spans.filter(s => s.name == name || s.layer == name)
      .groupMapReduce(_.op)(_.wallNs / 1e9)(_ + _).values.toSeq
    if (per.isEmpty) 0.0 else Stats.median(per)
  }

  /** Per span name: count, total wall and self wall (wall minus direct children). */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childWall = spans.groupMapReduce(_.parent)(_.wallNs)(_ + _)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      (name, ss.size, ss.map(_.wallNs).sum / 1e9,
        ss.map(s => s.wallNs - childWall.getOrElse(s.id, 0L)).sum / 1e9)
    }
  }
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val r = (v.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => apply(other.toString)
  }
}

package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.route.Router

/** Per-run metrics report — the admin-API analog (SURVEY.md §3.3): the
  * reference exposes per-harvester `speed_lps`/`speed_bps`/
  * `processed_lines`/`completion` counters (`lc-lib/harvester/
  * harvester.go:540-568`) and per-endpoint published-line counts
  * (`lc-lib/publisher/endpoint/api.go:34-45`). Ours: per-sink turn/byte
  * counts plus wall-clock throughput, rendered as one JSON document.
  */
object Metrics {

  final case class SinkMetric(sink: String, turns: Long, bytes: Long)
  final case class Report(
      inputTurns: Long,
      wallClockSec: Double,
      turnsPerSec: Double,
      bytesPerSec: Double,
      sinks: Seq[SinkMetric])

  def fromSinkCounts(sinkCounts: DataFrame, wallClockSec: Double): Report =
    report(sinkCounts.collect().map { r =>
      SinkMetric(r.getAs[String]("sink"), r.getAs[Long]("turns"), r.getAs[Long]("bytes"))
    }.toSeq, wallClockSec)

  /** Per-sink turn and text-byte aggregates over a routed frame, for
    * `Dataset.observe` on the rows a job writes (see
    * [[graft.lineage.Lineage.runObserving]]): the counts come from the
    * write itself, with no scan of their own. [[fromObserved]] reads
    * them back.
    */
  def sinkObservations(sinks: Seq[String]): Seq[Column] = sinks.flatMap { s =>
    val in = col(Router.SinkCol) === s
    Seq(count_if(in).as(s"turns:$s"),
      sum(when(in, octet_length(col("text"))).otherwise(lit(0))).as(s"bytes:$s"))
  }

  /** The report from [[sinkObservations]]' values. Sinks no row went to
    * are left out, as a group-by over the written rows would leave them.
    */
  def fromObserved(observed: Map[String, Any], sinks: Seq[String],
      wallClockSec: Double): Report = {
    def long(k: String): Long = observed.get(k) match {
      case Some(v: java.lang.Long) => v.longValue()
      case _ => 0L // sum over no rows, or over NULL text only
    }
    report(sinks.map(s => SinkMetric(s, long(s"turns:$s"), long(s"bytes:$s")))
      .filter(_.turns > 0), wallClockSec)
  }

  private def report(sinks: Seq[SinkMetric], wallClockSec: Double): Report = {
    val rows = sinks.sortBy(_.sink)
    val totalTurns = rows.map(_.turns).sum
    val totalBytes = rows.map(_.bytes).sum
    Report(totalTurns, wallClockSec,
      if (wallClockSec > 0) totalTurns / wallClockSec else 0.0,
      if (wallClockSec > 0) totalBytes / wallClockSec else 0.0,
      rows)
  }

  /** The reference's EWMA speed meter semantics
    * (`lc-lib/core/util.go:27-47` CalculateSpeed /
    * CalculateRunningAverage): load-average-style exponential moving
    * average over `totalPeriods` seconds, seeded with the first
    * measurement, auto-reset to 0 after 5 idle seconds. Used by the
    * streaming rate reporting the way the harvester meters `speed_lps`.
    */
  final class SpeedMeter(totalPeriods: Double = 5.0) {
    private var average = 0.0
    private var secondsNoChange = 0

    def update(periodSec: Double, measurement: Double): Double = {
      if (measurement == 0) secondsNoChange += math.ceil(periodSec).toInt
      else secondsNoChange = 0
      if (secondsNoChange >= 5) {
        secondsNoChange = 0
        average = 0.0
      } else {
        average =
          if (average == 0.0) measurement
          else {
            val exp = math.exp(periodSec / -totalPeriods)
            (1 - exp) * measurement + exp * average
          }
      }
      average
    }

    def value: Double = average
  }

  def toJson(r: Report): String = {
    val sinks = r.sinks.map(s =>
      s"""{"sink":"${s.sink}","turns":${s.turns},"bytes":${s.bytes}}""").mkString(",")
    f"""{"input_turns":${r.inputTurns},"wall_clock_sec":${r.wallClockSec}%.3f,""" +
      f""""turns_per_sec":${r.turnsPerSec}%.1f,"bytes_per_sec":${r.bytesPerSec}%.1f,""" +
      s""""sinks":[$sinks]}"""
  }
}

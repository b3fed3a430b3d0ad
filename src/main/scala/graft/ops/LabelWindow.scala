package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FORWARD label windows — the label-generation mirror of
  * [[PitWindowAgg]]'s trailing feature aggregates: for every anchor event
  * (entity, ts), look FORWARD into the half-open (ts, ts + horizon] and
  * emit the outcome label ("did a purchase follow this click within an
  * hour"), the outcome count/sum, and the time of the first outcome. This
  * is how training labels are minted from future events in a feature
  * store (the reference's labels are declared columns,
  * metadata/proto/metadata.proto:344-381 — outcome-window labeling is the
  * derivation step upstream of that declaration); the strict "> ts" start
  * is the same instant-exclusion discipline as the as-of join, applied in
  * the opposite direction so the anchor's own features can never contain
  * its label.
  *
  * Scale shape: [[PitWindowAgg]]'s sort-merge kernel on negated time —
  * one shuffle per side, one pass per partition, no (anchor × outcome)
  * pairs.
  *
  * Float discipline: outcome sums in DECIMAL(18,2) cast to DOUBLE at the
  * end; anchors with no outcome keep (label = 0, n = 0, sum = 0.0,
  * first_outcome_ms = NULL).
  */
object LabelWindow {

  /** (entity, anchor_ts_ms, label, n_outcomes, sum_value,
    * first_outcome_ms) per distinct anchor (entity, ts). */
  def forwardLabel(anchors: DataFrame, outcomes: DataFrame, entityCol: String,
                   anchorTsCol: String, outcomeTsCol: String, valueCol: String,
                   horizonSec: Long): DataFrame = {
    require(horizonSec > 0, "horizon must be positive")
    // (at, at + H] on time is [-at - H, -at) on negated time: the trailing
    // kernel's half-open window, and its latest event is the first outcome
    def ms(negMicros: String) = call_function("div", -col(negMicros), lit(1000L))
    val n = s"__n_$horizonSec"
    PitWindowAgg.kernel(
        anchors, col(entityCol), -unix_micros(col(anchorTsCol)),
        outcomes, col(entityCol), -unix_micros(col(outcomeTsCol)), col(valueCol),
        Seq(horizonSec))
      .select(col("__e").as(entityCol), ms("__lt").as("anchor_ts_ms"),
        when(col(n) > 0, 1L).otherwise(0L).as("label"),
        col(n).as("n_outcomes"),
        col(s"__s_$horizonSec").cast("double").as("sum_value"),
        ms("__last").as("first_outcome_ms"))
  }
}

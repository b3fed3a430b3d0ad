package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Point-in-time TRAILING-WINDOW aggregation features — the Feast/Tecton
  * "windowed aggregate feature" role the reference's latest-value
  * materialization doesn't cover (its features are point lookups,
  * provider/offline.go materialization; this is the aggregate counterpart):
  * for every label row (entity, ts), aggregate the entity's feature events
  * with event_ts in the half-open [ts − window, ts) — the label instant
  * itself EXCLUDED, the as-of join's no-leakage "<" discipline.
  *
  * Scale shape: one sort-merge kernel ([[graft.plans.TrailingWindowMerge]]).
  * Labels and events are each shuffled once on entity and sorted by
  * (entity, ts); one pass per partition slides a per-window front pointer
  * over a ring of the entity's recent events. Cost is the two sorts plus a
  * linear pass — no (label × event) pairs, so a hot entity costs its sort,
  * not the square of its window mass; no join back to the label keys.
  *
  * Float discipline: value sums run in DECIMAL(18,2) (exact, 128-bit
  * running sums) and cast to DOUBLE at the end (the oracle's money-math
  * rule); zero-event labels emit (n_events = 0, sum_value = 0.0). One
  * output row per DISTINCT (entity, label ts).
  */
object PitWindowAgg {

  /** (entity, label_ts_ms, n_events, sum_value) per distinct label key. */
  def trailingAgg(labels: DataFrame, events: DataFrame, entityCol: String,
                  labelTsCol: String, eventTsCol: String, valueCol: String,
                  windowSec: Long): DataFrame =
    trailing(labels, events, entityCol, labelTsCol, eventTsCol, valueCol,
      Seq(windowSec))
      .select(col("__e").as(entityCol), labelTsMs,
        col(s"__n_$windowSec").as("n_events"),
        col(s"__s_$windowSec").cast("double").as("sum_value"))

  /** The multi-window variant — feature sets ship as window LADDERS
    * (1h/6h/24h/7d). Every rung rides the same merge pass (one more front
    * pointer and running sum each), so k windows cost one shuffle per side
    * like one window. Output columns are suffixed by the window seconds,
    * ascending: n_<w>, sum_<w>. */
  def trailingAggLadder(labels: DataFrame, events: DataFrame,
                        entityCol: String, labelTsCol: String,
                        eventTsCol: String, valueCol: String,
                        windowsSec: Seq[Long]): DataFrame = {
    require(windowsSec.distinct.size == windowsSec.size,
      "duplicate window lengths")
    val sorted = windowsSec.sorted
    val outCols = sorted.flatMap { ws =>
      Seq(col(s"__n_$ws").as(s"n_$ws"),
        col(s"__s_$ws").cast("double").as(s"sum_$ws"))
    }
    trailing(labels, events, entityCol, labelTsCol, eventTsCol, valueCol, sorted)
      .select((col("__e").as(entityCol) +: labelTsMs +: outCols): _*)
  }

  private def labelTsMs =
    call_function("div", col("__lt"), lit(1000L)).as("label_ts_ms")

  private def trailing(labels: DataFrame, events: DataFrame, entityCol: String,
                       labelTsCol: String, eventTsCol: String, valueCol: String,
                       windowsSec: Seq[Long]): DataFrame =
    kernel(labels, col(entityCol), unix_micros(col(labelTsCol)),
      events, col(entityCol), unix_micros(col(eventTsCol)), col(valueCol),
      windowsSec)

  /** The [[graft.plans.TrailingWindowMerge]] operator over label keys
    * (entity, micros) and events (entity, micros, value): columns `__e`,
    * `__lt`, `__last` (micros of the latest event in the widest window),
    * then `__n_<w>`, `__s_<w>` (DECIMAL(28,2)) per window. The event
    * entity is cast to the label entity's type so both sides hash alike. */
  private[ops] def kernel(labels: DataFrame, labelEntity: Column, labelMicros: Column,
                          events: DataFrame, eventEntity: Column, eventMicros: Column,
                          value: Column, windowsSec: Seq[Long]): DataFrame = {
    require(windowsSec.nonEmpty && windowsSec.forall(_ > 0),
      "windows must be positive")
    val spark = labels.sparkSession
    graft.plans.AsOfMergeStrategy.ensureOn(spark)
    val l = labels.select(labelEntity.as("__e"), labelMicros.as("__lt"))
    val ev = events.select(eventEntity.cast(l.schema("__e").dataType).as("__e"),
      eventMicros.as("__et"), value.cast("decimal(18,2)").as("__v"))
    val lp = l.queryExecution.analyzed
    val rp = ev.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) = plan.output.find(_.name == name).get
    val aggs = AttributeReference("__last", LongType)() +: windowsSec.flatMap { ws =>
      Seq(AttributeReference(s"__n_$ws", LongType, nullable = false)(),
        AttributeReference(s"__s_$ws", DecimalType(28, 2), nullable = false)())
    }
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      graft.plans.TrailingWindowMerge(lp, rp, attr(lp, "__e"), attr(lp, "__lt"),
        attr(rp, "__e"), attr(rp, "__et"), attr(rp, "__v"),
        windowsSec.map(_ * 1000000L), aggs))
  }
}

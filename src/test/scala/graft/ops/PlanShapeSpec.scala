package graft.ops

import org.apache.spark.graft.PlanCounters
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Plan-shape regressions of the point-in-time operators: how many Spark
  * jobs one run launches (one exchange per input plus the result job), and
  * that a second identical run compiles no new classes — per-run code
  * variance (embedded literals, unique names) would recompile every run
  * and churn the codegen cache. */
class PlanShapeSpec extends SparkSpec {

  private lazy val ev = graft.sources.Readers.eventsNormalized(spark, sf001)
  private def purchases = ev.filter(col("event_type") === "purchase")
  private def clicks = ev.filter(col("event_type") === "click")

  /** (jobs, compiled) of two identical runs, inputs registered first. */
  private def twice(df: => DataFrame): ((Int, Long), (Int, Long)) = {
    ev.schema
    def once = PlanCounters.measure(spark.sparkContext)(df.collect(): Unit)
    (once, once)
  }

  test("trailingAgg: 3 jobs, no new classes on a second run") {
    val (first, second) = twice(PitWindowAgg.trailingAgg(purchases, clicks,
      "user_id", "ts", "ts", "value", windowSec = 3600L))
    assert(first._1 == 3 && second == ((3, 0L)), s"(jobs, compiled) $first, $second")
  }

  test("3-feature trainingSet: at most 4 jobs, no new classes on a second run") {
    val cust = spark.read.parquet(s"$sf001/customer.parquet")
    val (first, second) = twice(AsOfJoin.trainingSet(purchases,
      Map("entity" -> "user_id"), "value", Some("ts"), Seq(
        FeatureSide(clicks, "user_id", "value", Some("ts"), "f_click"),
        FeatureSide(clicks, "user_id", "value", Some("ts"), "f_click_lag1h",
          lagSeconds = Some(3600L)),
        FeatureSide(cust, "c_custkey", "c_acctbal", None, "f_bal"))))
    assert(first._1 <= 4 && second._1 <= 4 && second._2 == 0L,
      s"(jobs, compiled) $first, $second")
  }
}

package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests for the forward label window: for ANY anchor set,
  * outcome set, and horizon, the result equals the brute-force
  * cross-join filter over (ts, ts+H], zero-outcome defaults included. */
class LabelWindowPropertySpec extends SparkSpec {
  import spark.implicits._

  private val genCase = for {
    nA <- Gen.choose(1, 40)
    anchors <- Gen.listOfN(nA, for {
      e <- Gen.choose(1L, 5L)
      t <- Gen.choose(0L, 3000L)
    } yield (e, t))
    nO <- Gen.choose(0, 80)
    outcomes <- Gen.listOfN(nO, for {
      e <- Gen.choose(1L, 5L)
      t <- Gen.choose(0L, 3500L)
      v <- Gen.choose(-50, 500)
    } yield (e, t, v / 10.0))
    horizonUs <- Gen.oneOf(1L, 13L, 250L, 1000L, 100000L)
  } yield (anchors, outcomes, horizonUs)

  test("bucketized forward labels == brute force for any inputs/horizon") {
    val prop = Prop.forAll(genCase) { case (anchors, outcomes, hUs) =>
      // horizonSec is seconds; generate micro-scale times by treating the
      // generated longs as seconds directly (timestamp_micros(s * 1e6))
      val aDf = anchors.toDF("e", "s")
        .select($"e", timestamp_micros($"s" * 1000000L).as("ts"))
      val oDf = outcomes.toDF("e", "s", "v")
        .select($"e", timestamp_micros($"s" * 1000000L).as("ts"), $"v")
      val got = LabelWindow.forwardLabel(aDf, oDf, "e", "ts", "ts", "v", hUs)
        .as[(Long, Long, Long, Long, Double, Option[Long])].collect().toSet
      val want = anchors.distinct.map { case (e, at) =>
        val hits = outcomes.filter { case (oe, ot, _) =>
          oe == e && ot > at && ot <= at + hUs }
        val sum = BigDecimal(hits.map(h =>
          BigDecimal(h._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble).toDouble
        (e, at * 1000L, if (hits.nonEmpty) 1L else 0L, hits.size.toLong,
          if (hits.nonEmpty) sum else 0.0,
          if (hits.nonEmpty) Some(hits.map(_._2).min * 1000L) else None)
      }.toSet
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.toString)
  }
}

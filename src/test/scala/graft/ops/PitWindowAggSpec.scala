package graft.ops

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

class PitWindowAggSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("half-open boundaries, bucket crossing, zero-event and dup labels") {
    // window 100 s; label at t=1000 covers [900, 1000)
    val labels = Seq(
      (1L, ts(1000)), (1L, ts(1000)),         // duplicate label collapses
      (2L, ts(1000)),                          // no events at all
      (3L, ts(150))).toDF("entity", "ts")      // window [50,150) crosses bucket
    val events = Seq(
      (1L, 1.0, ts(900)),    // == ts-W -> included (closed start)
      (1L, 2.0, ts(999)),    // inside
      (1L, 4.0, ts(1000)),   // == label ts -> EXCLUDED (open end)
      (1L, 8.0, ts(899)),    // before window
      (3L, 16.0, ts(50)),    // window start, previous bucket
      (3L, 32.0, ts(149)),   // window end - 1, label's own bucket
      (3L, 64.0, ts(150))).toDF("entity", "value", "ts")
    val out = PitWindowAgg.trailingAgg(labels, events, "entity", "ts", "ts",
        "value", windowSec = 100L)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out == Map(
      (1L, 1000000L) -> ((2L, 3.0)),
      (2L, 1000000L) -> ((0L, 0.0)),
      (3L, 150000L)  -> ((2L, 48.0))))
  }

  /** Brute-force reference: per DISTINCT (entity, ts) label key, events of
    * the same entity with lt - w <= et < lt counted and DECIMAL-summed;
    * NULL entity or ts labels get (0, 0.0); NULL-ts events are in no
    * window; NULL values count but add nothing. */
  private def reference(labels: Seq[(Option[Long], Option[Long])],
                        events: Seq[(Option[Long], Option[Long], Option[Double])],
                        w: Long): Seq[(Option[Long], Option[Long], Long, Double)] =
    labels.distinct.map { case (e, t) =>
      val in = for ((ee, et, v) <- events; le <- e; lt <- t; x <- ee; y <- et
                    if x == le && y >= lt - w && y < lt) yield v
      (e, t.map(_ * 1000L), in.size.toLong,
        in.flatten.map(BigDecimal(_).setScale(2)).sum.toDouble)
    }.sortBy(_.toString)

  test("kernel matches a brute-force reference on random inputs") {
    val rnd = new scala.util.Random(20261018L)
    def opt[A](p: Double)(a: => A): Option[A] =
      if (rnd.nextDouble() < p) None else Some(a)
    // entity 0 is hot: ~half of all events. Timestamps are whole seconds
    // over a short range with w = 5, so et == lt - w (included) and
    // et == lt (excluded) both occur; labels repeat.
    def entity() = if (rnd.nextBoolean()) 0L else rnd.nextInt(5).toLong
    val windows = Seq(3L, 5L, 11L)
    for (round <- 0 until 10) {
      val nl = if (round == 0) 0 else 5 + rnd.nextInt(30)
      val ne = if (round == 1) 0 else 20 + rnd.nextInt(80)
      val labels = Seq.fill(nl)((opt(0.1)(entity()), opt(0.1)(rnd.nextInt(30).toLong)))
      val events = Seq.fill(ne)((opt(0.1)(entity()), opt(0.1)(rnd.nextInt(30).toLong),
        opt(0.15)(rnd.nextInt(400) / 4.0)))
      val ldf = labels.map { case (e, t) => (e, t.map(ts)) }.toDF("entity", "ts")
      val edf = events.map { case (e, t, v) => (e, t.map(ts), v) }
        .toDF("entity", "ts", "value")
      val got = PitWindowAgg.trailingAgg(ldf, edf, "entity", "ts", "ts", "value", 5L)
        .as[(Option[Long], Option[Long], Long, Double)].collect().toSeq.sortBy(_.toString)
      assert(got == reference(labels, events, 5L), s"round $round")
      val ladder = PitWindowAgg.trailingAggLadder(ldf, edf, "entity", "ts", "ts",
          "value", windows.reverse)
        .as[(Option[Long], Option[Long], Long, Double, Long, Double, Long, Double)]
        .collect().toSeq
      assert(ladder.map(_.productIterator.toSeq.take(2)).distinct.size == ladder.size)
      windows.zipWithIndex.foreach { case (w, i) =>
        val rung = ladder.map(r => (r._1, r._2, r.productElement(2 + 2 * i),
          r.productElement(3 + 2 * i))).sortBy(_.toString)
        assert(rung == reference(labels, events, w), s"round $round, window $w")
      }
    }
  }

  test("ladder rungs equal independent single-window runs") {
    val ev = graft.sources.Readers.eventsNormalized(spark, sf001)
    val labels = ev.filter($"event_type" === "purchase")
    val clicks = ev.filter($"event_type" === "click")
    val ladder = PitWindowAgg.trailingAggLadder(labels, clicks, "user_id",
        "ts", "ts", "value", Seq(1800L, 7200L))
      .as[(Long, Long, Long, Double, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    for (w <- Seq(1800L, 7200L)) {
      val single = PitWindowAgg.trailingAgg(labels, clicks, "user_id", "ts",
          "ts", "value", w)
        .as[(Long, Long, Long, Double)].collect()
      assert(single.nonEmpty)
      single.foreach { case (e, t, n, sum) =>
        val l = ladder((e, t))
        if (w == 1800L) assert((l._3, l._4) == ((n, sum)))
        else assert((l._5, l._6) == ((n, sum)))
      }
    }
  }

  test("agrees with the brute-force range join on real events") {
    val ev = graft.sources.Readers.eventsNormalized(spark, sf001)
    val labels = ev.filter($"event_type" === "purchase")
    val clicks = ev.filter($"event_type" === "click")
    val fast = PitWindowAgg.trailingAgg(labels, clicks, "user_id", "ts",
        "ts", "value", windowSec = 7200L)
      .as[(Long, Long, Long, Double)].collect().toSet
    val l = labels.select($"user_id".as("lu"), $"ts".as("lts")).distinct()
    val c = clicks.select($"user_id".as("cu"), $"ts".as("cts"),
      $"value".as("cv"))
    val brute = l.join(c,
        $"cu" === $"lu" &&
          $"cts" >= ($"lts" - expr("INTERVAL 2 HOURS")) &&
          $"cts" < $"lts", "left")
      .groupBy($"lu", $"lts")
      .agg(count($"cu").as("n"),
        coalesce(sum($"cv".cast("decimal(18,2)")).cast("double"),
          lit(0.0)).as("s"))
      .select($"lu", unix_millis($"lts"), $"n", $"s")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(fast == brute && fast.nonEmpty)
  }
}

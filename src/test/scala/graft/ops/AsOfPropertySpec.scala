package graft.ops

import java.sql.Timestamp
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSpec
import org.apache.spark.sql.functions.unix_micros

/** Property tests for the as-of join invariants (SURVEY.md §5):
  * `f.ts <= l.ts` inclusive, NULL padding, deterministic tie semantics, and
  * agreement between the two physical strategies — checked against a
  * brute-force in-memory oracle on randomized event sets.
  */
class AsOfPropertySpec extends SparkSpec {
  import spark.implicits._

  private val genEvents: Gen[List[(Long, Long, Double)]] =
    Gen.listOfN(40, for {
      entity <- Gen.choose(0L, 4L)
      tsSec <- Gen.choose(0L, 20L)
      value <- Gen.choose(1, 50).map(_.toDouble)
    } yield (entity, tsSec, value))

  private def toTs(sec: Long) = new Timestamp(1700000000000L + sec * 1000)

  /** Brute-force oracle: for a label row, the qualifying feature value is the
    * max by (ts, value) among rows with same entity and f.ts <= l.ts. */
  private def oracle(feats: List[(Long, Long, Double)], e: Long, lts: Long): Option[Double] =
    feats.filter(f => f._1 == e && f._2 <= lts)
      .sortBy(f => (f._2, f._3)).lastOption.map(_._3)

  test("as-of join matches brute-force oracle on random event sets") {
    val prop = Prop.forAll(genEvents, genEvents) {
      (featEv: List[(Long, Long, Double)], labelEv: List[(Long, Long, Double)]) =>
        labelEv.isEmpty || {
          val feat = featEv.map(f => (f._1, toTs(f._2), f._3)).toDF("fe", "fts", "fv")
          val label = labelEv.map(l => (l._1, toTs(l._2), l._3)).toDF("le", "lts", "lv")
          val got = AsOfJoin.trainingSet(label, Map("entity" -> "le"), "lv",
              Some("lts"), Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f")))
            .collect()
          got.length == labelEv.length && got.forall { r =>
            val e = r.getLong(0)
            val lts = (r.getTimestamp(1).getTime - 1700000000000L) / 1000
            val expected = oracle(featEv, e, lts)
            val actual = if (r.isNullAt(2)) None else Some(r.getDouble(2))
            actual == expected
          }
        }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.toString)
  }

  test("lag, TTL, ts-less and no-label-ts features agree across strategies") {
    val rnd = new scala.util.Random(451L)
    def opt[A](p: Double)(a: => A): Option[A] =
      if (rnd.nextDouble() < p) None else Some(a)
    for (round <- 0 until 4) {
      // NULL entities and values on both sides, NULL label ts; feature ts
      // stays non-NULL (JoinWindow's join drops NULL-ts feature rows, the
      // other strategies treat them as epoch-minus-infinity)
      val feat = Seq.fill(40)((opt(0.1)(rnd.nextInt(5).toLong),
          toTs(rnd.nextInt(20).toLong), opt(0.1)(rnd.nextInt(50).toDouble)))
        .toDF("fe", "fts", "fv")
      val dim = Seq.fill(8)((opt(0.1)(rnd.nextInt(6).toLong),
          opt(0.2)(rnd.nextInt(50).toDouble))).toDF("de", "dv")
      val label = Seq.fill(if (round == 0) 0 else 30)((opt(0.1)(rnd.nextInt(6).toLong),
          opt(0.1)(toTs(rnd.nextInt(25).toLong)), rnd.nextInt(9).toDouble))
        .toDF("le", "lts", "lv")
      val feats = Seq(
        FeatureSide(feat, "fe", "fv", Some("fts"), "f"),
        FeatureSide(feat, "fe", "fv", Some("fts"), "f_lag", lagSeconds = Some(3L)),
        FeatureSide(feat, "fe", "fv", Some("fts"), "f_ttl", maxAgeSeconds = Some(4L)),
        FeatureSide(feat, "fe", "fv", Some("fts"), "f_lag_ttl",
          lagSeconds = Some(2L), maxAgeSeconds = Some(5L)),
        FeatureSide(dim, "de", "dv", None, "f_dim", maxAgeSeconds = Some(1L)))
      for (labelTs <- Seq(Some("lts"), None)) {
        def run(st: AsOfStrategy) = AsOfJoin.trainingSet(label,
            Map("entity" -> "le"), "lv", labelTs, feats, st)
          .collect().map(_.toSeq).toSeq.sortBy(_.toString)
        val merge = run(SortMergeAsOf)
        assert(merge.size == label.count(), s"round $round, label ts $labelTs")
        assert(merge == run(UnionWindow), s"round $round, label ts $labelTs")
        assert(merge == run(JoinWindow), s"round $round, label ts $labelTs")
      }
    }
  }
}

class UpsertSpec extends SparkSpec {
  import spark.implicits._
  private def ts(s: Long) = new Timestamp(s * 1000)

  test("upsert refreshes only entities with newer events") {
    val snap = Seq((1L, 10.0, ts(100)), (2L, 20.0, ts(100))).toDF("entity", "value", "ts")
    val updates = Seq(
      (1L, 11.0, ts(200)), // newer -> wins
      (2L, 5.0, ts(50)),   // older -> ignored
      (3L, 30.0, ts(100))  // new entity -> inserted
    ).toDF("entity", "value", "ts")
    val got = Materialize.upsert(snap, updates)
      .select("entity", "value").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
  }
}

class ReadersSpec extends SparkSpec {
  import spark.implicits._

  test("naive parquet timestamps read as the same instants in any session zone") {
    def micros(tz: String) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", tz)
      def jobs(register: => org.apache.spark.sql.DataFrame) =
        org.apache.spark.graft.PlanCounters.measure(s.sparkContext)(register.schema: Unit)._1
      // registration costs only the plain read's schema-inference job
      assert(jobs(graft.sources.Readers.eventsNormalized(s, sf001)) ==
        jobs(s.read.parquet(s"$sf001/events.parquet")))
      graft.sources.Readers.eventsNormalized(s, sf001)
        .select($"event_id", unix_micros($"ts")).as[(Long, Long)].collect().toMap
    }
    val utc = micros("UTC")
    assert(utc.nonEmpty && micros("America/Los_Angeles") == utc)
  }

  test("CSV write/read round-trip (S1/K2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    val out = graft.sources.Writers.writeCsv(df, dir, header = true)
    val back = graft.sources.Readers.csv(spark, out)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("id", "s", "v"))
    assert(back.where($"s" === "b").select("v").as[Double].collect().head == 2.5)
  }
}

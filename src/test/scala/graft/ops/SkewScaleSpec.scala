package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Dedup

/** Planted-skew behavior at spec scale — the unit-test face of the
  * `graft.SkewBench` harness (which runs the same hazards at 10× sf0.1 and
  * records BENCH_skew_r4.json):
  *  - the hot-key cap FIRES and is observable (capStats), not just silent;
  *  - the as-of merge operator agrees with the window strategy when one
  *    entity owns half the history;
  *  - inverted intervals can't detonate the range-join bucket explode.
  */
class SkewScaleSpec extends SparkSpec {
  import spark.implicits._

  test("capStats records the hot-bucket drop (fires at scale, not silently)") {
    val boiler = "identical boilerplate body shared by every clone in the " +
      "planted hot bucket corpus"
    val docs = ((0 until 40).map(i => (i.toLong, boiler)) ++
      Seq((100L, "a genuine near duplicate pair first document body kept"),
          (101L, "a genuine near duplicate pair first document body kept")))
      .toDF("doc_id", "text")
    Dedup.capStats.clear()
    val got = Dedup.simhashNearDups(docs, "text", "doc_id",
      maxHamming = 3, maxBandFreq = 10)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 101L)))
    val (keys, rows) = Dedup.capStats("simhashNearDups")
    assert(keys >= 4, s"all four quarters of the clone hash are hot: $keys")
    assert(rows >= 40L * 4, s"every clone row in every quarter dropped: $rows")
    // a clean corpus clears the stat back out
    Dedup.capStats.clear()
    Dedup.simhashNearDups(docs.where(col("doc_id") >= 100L), "text", "doc_id",
      maxHamming = 3, maxBandFreq = 10).collect()
    assert(!Dedup.capStats.contains("simhashNearDups"))
  }

  test("bounded simhash = quarter-band simhash at maxHamming <= 3, cap fires") {
    // mixed corpus: clones, near-variants (few-token edits), unrelated
    val docs = ((0 until 12).map(i =>
      (i.toLong, "shared boilerplate body of the near duplicate family " +
        s"token$i")) ++
      Seq((100L, "completely different first unrelated document body here"),
          (101L, "another entirely distinct second document body text"),
          (102L, "shared boilerplate body of the near duplicate family token3")))
      .toDF("doc_id", "text")
    val quarter = Dedup.simhashNearDups(docs, "text", "doc_id",
      maxHamming = 3).select("idA", "idB", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val bounded = Dedup.simhashNearDupsBounded(docs, "text", "doc_id",
      maxHamming = 3).select("idA", "idB", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    // both constructions guarantee full recall at Hamming <= 3 and verify
    // exactly, so outputs are identical sets
    assert(bounded == quarter)
    assert(bounded.exists { case (a, b, h) => h == 0L && (a, b) == (3L, 102L) })
    // the recall-guarantee guard: 6 blocks minus combo 3 < maxHamming 4
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupsBounded(docs, "text", "doc_id", maxHamming = 4)
    }
    // cap observability, same convention as every LSH family
    Dedup.capStats.clear()
    val flood = (0 until 40).map(i => (i.toLong, "identical clone body"))
      .toDF("doc_id", "text")
    Dedup.simhashNearDupsBounded(flood, "text", "doc_id",
      maxHamming = 3, maxBandFreq = 10).collect()
    val (keys, _) = Dedup.capStats("simhashNearDupsBounded")
    assert(keys >= 20, s"all 20 combo keys of the clone hash are hot: $keys")
  }

  test("as-of strategies agree when one entity owns half the history") {
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
    // entity 7: 500 feature events; everyone else: 5 each
    val feats = ((0 until 500).map(i => (7L, ts(i), i.toDouble)) ++
      (1 to 50).flatMap(e => (0 until 5).map(i =>
        (e + 100L, ts(i * 97), e * 1000.0 + i)))).toDF("fe", "fts", "fv")
    val labels = ((0 until 40).map(i => (7L, ts(i * 13 + 1), 1.0)) ++
      (1 to 50).map(e => (e + 100L, ts(250), 2.0))).toDF("le", "lts", "lv")
    def run(st: AsOfStrategy) = AsOfJoin.trainingSet(labels,
        Map("entity" -> "le"), "lv", Some("lts"),
        Seq(FeatureSide(feats, "fe", "fv", Some("fts"), "f")), st)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val merge = run(SortMergeAsOf)
    assert(merge == run(UnionWindow))
    // spot-check the hot entity: label at t=27s sees feature at t=27
    assert(merge((7L, ts(27 * 13 + 1).getTime)).isDefined)
  }

  test("trailing-window kernel: one entity owns half the history") {
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
    // entity 7: 500 events one second apart, 40 labels inside that run
    val evs = (0 until 500).map(i => (7L, i.toLong, (i % 13).toDouble)) ++
      (1 to 50).flatMap(e => (0 until 5).map(i => (e + 100L, i * 97L, e + i / 4.0)))
    val lbls = (0 until 40).map(i => (7L, i * 13L + 1)) ++
      (1 to 50).map(e => (e + 100L, 250L))
    val got = PitWindowAgg.trailingAgg(
        lbls.map(l => (l._1, ts(l._2))).toDF("e", "ts"),
        evs.map(v => (v._1, v._3, ts(v._2))).toDF("e", "value", "ts"),
        "e", "ts", "ts", "value", windowSec = 120L)
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = lbls.distinct.map { case (e, t) =>
      val in = evs.filter(v => v._1 == e && v._2 >= t - 120 && v._2 < t).map(_._3)
      (e, 1700000000000L + t * 1000, in.size.toLong, in.sum)
    }.toSet
    assert(got == want)
    // the hot entity's late labels see a full 120-event window
    assert(got.exists { case (e, _, n, _) => e == 7L && n == 120L })
  }

  test("inverted intervals match nothing and do not explode the bucket array") {
    def ts(s: String) = Timestamp.valueOf(s)
    val pts = Seq((1L, ts("2024-01-15 12:00:00"))).toDF("pid", "pts")
    val ivs = Seq(
      (1L, ts("2024-01-15 11:00:00"), ts("2024-01-15 13:00:00")), // genuine hit
      // badly inverted: end three YEARS before start — sequence() would
      // build a descending multi-million-bucket array without the guard
      (2L, ts("2024-01-15 11:00:00"), ts("2021-01-15 11:00:00")),
      (3L, ts("2024-01-15 12:00:00"), ts("2024-01-15 12:00:00")) // empty
    ).toDF("iv_id", "start", "end")
    val got = RangeJoin.pointsInIntervals(pts, "pts", ivs, "start", "end",
      bucketMicros = 30L * 60 * 1000000)
    assert(got.select("iv_id").as[Long].collect().toSeq == Seq(1L))
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The two LSH candidate shapes — inline signatures on the band-join legs
  * (small corpora) vs metadata-only band legs with signatures re-attached
  * to the deduped pair set (wide corpora) — must return IDENTICAL pairs:
  * the gate is a performance branch, never a semantic one. Runs on the
  * real sf0.001 documents corpus so band collisions, the hot-band cap and
  * the estimate filter are all exercised. */
class MinhashShapeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf001/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("minhashNearDups: wide and inline shapes agree (threshold 0.8)") {
    val inline = Dedup.minhashNearDupsImpl(docs, "text", "doc_id",
        5, 64, 16, 0.8, false, 2000, wideShape = Some(false))
      .as[(Long, Long, Double)].collect().toSet
    val wide = Dedup.minhashNearDupsImpl(docs, "text", "doc_id",
        5, 64, 16, 0.8, false, 2000, wideShape = Some(true))
      .as[(Long, Long, Double)].collect().toSet
    assert(inline.nonEmpty, "fixture must produce pairs")
    assert(wide == inline)
  }

  test("minhashNearDups: wide and inline shapes agree on a repeated doc id") {
    // a copy of every 7th document under the same id: both shapes must
    // emit the same rows, each candidate pair verified once per text pair
    val dup = docs.union(docs.filter(col("doc_id") % 7 === 0))
    def run(shape: Boolean) = Dedup.minhashNearDupsImpl(dup, "text", "doc_id",
        5, 64, 16, 0.8, false, 2000, wideShape = Some(shape))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val inline = run(false)
    assert(inline.nonEmpty, "fixture must produce pairs")
    assert(run(true) == inline)
  }

  test("minhashNearDupsIncremental: wide and inline shapes agree " +
      "(threshold 0.5, dense candidates)") {
    val isNew = col("doc_id") % 5 === 4
    val corpusSigs = Dedup.minhashSignatureTable(
      docs.filter(!isNew), "text", "doc_id")
    def run(shape: Boolean) =
      Dedup.minhashNearDupsIncrementalImpl(corpusSigs, docs,
          docs.filter(isNew), "text", "doc_id", 5, 64, 16, 0.5, 2000,
          wideShape = Some(shape))
        .as[(Long, Long, Double)].collect().toSet
    val inline = run(false)
    val wide = run(true)
    assert(inline.nonEmpty, "fixture must produce pairs")
    assert(wide == inline)
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Dedup
import graft.ops.{AsOfJoin, FeatureSide, Materialize, PitWindowAgg, Split}
import graft.serving.{DiskKv, OnlineStore}

/** The closed-loop offline journeys: one caller runs whole iterations back
  * to back until the run's time is up. The training-set journey is the
  * `training_set` workload; its traced runs also run the corpus-dedup
  * journey, which measures the `functions` layer. Every iteration forces
  * its results through [[RowHash.force]] (the forcing action and the
  * correctness digest in one pass); `run.py` compares each digest with a
  * DuckDB replay of the program's oracle SQL. */
object Offline {

  /** Light set-up repeated to take a median: register the inputs (parquet
    * footers, schema) and run one small warm-up job. */
  private def setupReps(spark: SparkSession, res: Result)(register: => Unit): Unit = {
    val reps = (1 to 3).map { _ =>
      Main.timed {
        register
        spark.range(1000000).selectExpr("sum(id)").collect()
      }._2
    }
    res.num("setup_work_s", Main.median(reps))
  }

  /** Run `warmup` iterations (untimed for the median, untraced), then
    * iterate `body` until `seconds` more have passed and at least
    * `measured` iterations ran (the median is over them). The JIT keeps
    * speeding iterations up for tens of seconds, so a fixed count of
    * warm-up iterations puts every run's measured ones at the same point
    * of that curve. In a traced run, measured iterations alternate tracing
    * on and off, so the same run yields the tracing overhead. `key`
    * prefixes the recorded warm-up count. Returns (wall s, traced?) per
    * iteration, warm-up included. */
  private def loop(a: Main.Args, tr: Tracer, counters: Option[SparkCounters], warmup: Int,
                   measured: Int, seconds: Double, key: String, res: Result)
                  (body: Int => Unit): Seq[(Double, Boolean)] = {
    res.num(s"${key}warmup_iters", warmup)
    val out = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val minIters = warmup + (if (a.trace) measured + 1 else measured)
    var t0 = System.nanoTime()
    var i = 0
    while (i < minIters || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (i == warmup) t0 = System.nanoTime()
      val traced = a.trace && i >= warmup && (i - warmup) % 2 == 0
      tr.on = traced
      counters.foreach(c => if (traced) c.attach() else c.detach())
      val (_, s) = Main.timed(tr.span("iteration")(body(i)))
      counters.foreach(_.drain())
      out += ((s, traced))
      i += 1
    }
    tr.on = false
    counters.foreach(_.detach())
    out.toSeq
  }

  /** Per-layer metrics from the traced iterations: each span name's median
    * duration, and (named with `prefix`) Spark counters per iteration,
    * coverage and overhead. */
  private def layerReport(tr: Tracer, counters: Option[SparkCounters],
                          iters: Seq[(Double, Boolean)], warmup: Int, prefix: String,
                          res: Result, spanMetric: Map[String, String]): Unit = {
    val spans = tr.spans
    val self = tr.selfMs(spans)
    val roots = spans.filter(_.parent == 0)
    val perRoot = roots.map { r =>
      val c = counters.map(_.within(r.startMs, r.endMs)).getOrElse(Map.empty)
      (r, c)
    }
    val keys = perRoot.flatMap(_._2.keys).distinct
    keys.foreach(k => res.perLayer(prefix + k, Main.median(perRoot.map(_._2.getOrElse(k, 0.0)))))
    spanMetric.foreach { case (span, metric) =>
      res.perLayer(metric, Main.median(spans.filter(_.name == span).map(_.durMs / 1000.0)))
    }
    // per-span counters, reported as <span>.<counter> in the trace dump
    spans.filter(_.parent != 0).groupBy(_.name).foreach { case (name, ss) =>
      val cs = ss.map(s => counters.map(_.within(s.startMs, s.endMs)).getOrElse(Map.empty))
      cs.flatMap(_.keys).distinct.foreach { k =>
        res.num(s"trace.$name.$k", Main.median(cs.map(_.getOrElse(k, 0.0))))
      }
      res.num(s"trace.$name.self_s", Main.median(ss.map(s => self(s.id) / 1000.0)))
    }
    res.spans(spans)
    res.perLayer(s"${prefix}trace.coverage",
      Main.median(roots.map(r => 1.0 - self(r.id) / r.durMs)))
    val on = iters.drop(warmup).filter(_._2).map(_._1)
    val off = iters.drop(warmup).filterNot(_._2).map(_._1)
    res.perLayer(s"${prefix}trace.overhead_frac",
      if (on.isEmpty || off.isEmpty) 0.0 else Main.median(on) / Main.median(off) - 1.0)
  }

  // ------------------------------------------------------------ training_set
  /** Warm-up (~20 s on 4 vCPUs) and least measured iterations of the
    * training-set journey. */
  private val TrainingWarmup = 6
  private val TrainingMeasured = 6
  def trainingSet(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val tr = new Tracer
    val counters = if (a.trace) Some(new SparkCounters(spark)) else None
    var ev: DataFrame = null
    var cust: DataFrame = null
    setupReps(spark, res) {
      ev = graft.sources.Readers.eventsNormalized(spark, a.data)
      cust = spark.read.parquet(s"${a.data}/customer.parquet")
      ev.schema; cust.schema
    }
    val expected = scala.io.Source.fromFile(s"${a.data}/expected_latest_click.tsv")
      .getLines().map { l => val Array(e, v) = l.split('\t'); e.toLong -> v.toDouble }.toArray
    val rnd = new scala.util.Random(a.seed)
    val probe = Seq.fill(200)(expected(rnd.nextInt(expected.length)))

    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
    var trainingRows = 0L
    val iters = loop(a, tr, counters, TrainingWarmup, TrainingMeasured, a.seconds, "", res) { i =>
      val kvDir = Files.createTempDirectory(Paths.get(a.runDir), s"kv$i").toString
      val (store, matS) = Main.timed {
        val mat = tr.span("ops.materialize_latest") {
          val m = Materialize.latest(
            clicks.select(col("user_id").as("entity"), col("value"), col("ts")),
            "entity", "value", Some("ts"))
            .select(col("entity"), col("value"), unix_millis(col("ts")).as("ts_ms"))
          res.hash("feat_latest_ts", force(m, counters))
          m
        }
        tr.span("serving.bulk_load") {
          val s = new OnlineStore(new DiskKv(kvDir))
          s.load("f_click", mat.select("entity", "value"))
          s
        }
      }
      val (_, trainS) = Main.timed {
        val ts = tr.span("ops.asof_join") {
          val t = AsOfJoin.trainingSet(purchases, Map("entity" -> "user_id"), "value",
            Some("ts"), Seq(
              FeatureSide(clicks, "user_id", "value", Some("ts"), "f_click"),
              FeatureSide(clicks, "user_id", "value", Some("ts"), "f_click_lag1h",
                lagSeconds = Some(3600L)),
              FeatureSide(cust, "c_custkey", "c_acctbal", None, "f_bal")))
            .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("f_click"),
              col("f_click_lag1h"), col("label"), col("f_bal"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          val h = force(t, counters)
          trainingRows = h.rows
          res.hash("training_set", h)
          t
        }
        tr.span("ops.pit_window_agg") {
          res.hash("pit_window_agg", force(PitWindowAgg.trailingAgg(purchases, clicks,
            "user_id", "ts", "ts", "value", windowSec = 3600L), counters))
        }
        tr.span("ops.split") {
          res.hash("training_split", force(
            Split.withSplit(ts, Seq("user_id", "ts_ms"), 0.2, a.seed), counters))
        }
        ts.unpersist(blocking = true)
      }
      res.sample("materialize_s", matS)
      res.sample("train_set_s", trainS)
      res.sample("journey_s", matS + trainS)
      // write-path check: the loaded store serves the latest click value
      val bad = probe.count { case (e, v) => store.get("f_click", e) != Some(v) }
      if (i == 0 || bad > 0)
        res.check("online store serves latest click", bad == 0, s"$bad of ${probe.size} wrong")
      deleteTree(kvDir)
    }
    res.perLayer("ops.training_rows", trainingRows.toDouble)
    if (a.trace) layerReport(tr, counters, iters, TrainingWarmup, "", res, Map(
      "ops.materialize_latest" -> "ops.materialize_latest_s",
      "serving.bulk_load" -> "serving.bulk_load_s",
      "ops.asof_join" -> "ops.asof_join_s",
      "ops.pit_window_agg" -> "ops.pit_window_agg_s",
      "ops.split" -> "ops.split_s"))
  }

  // ------------------------------------------------------------ corpus_dedup
  /** Warm-up (~18 s on 4 vCPUs) and measured iterations of the dedup
    * journey; a fixed count, which keeps a traced run's time bounded. */
  private val DedupWarmup = 2
  private val DedupMeasured = 5
  /** The corpus-dedup journey over the corpus in `a.corpus`, traced: its
    * Spark and Catalyst counters, coverage and overhead are named
    * `dedup.<metric>`. */
  def corpusDedup(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val tr = new Tracer
    val counters = Some(new SparkCounters(spark))
    val docs = spark.read.parquet(s"${a.corpus}/documents.parquet")
    val planted = scala.io.Source.fromFile(s"${a.corpus}/planted_clusters.tsv")
      .getLines().map(_.split(',').map(_.toLong)).toArray
    var found: Set[(Long, Long)] = Set.empty
    var clusters = 0L
    val iters = loop(a, tr, counters, DedupWarmup, DedupMeasured, 0.0, "dedup.", res) { i =>
      val ((pairs, labels), s) = Main.timed {
        val pairs = tr.span("functions.minhash_near_dups") {
          val p = Dedup.minhashNearDups(docs, "text", "doc_id",
            shingleK = 5, numHashes = 64, bands = 16, threshold = 0.5)
            .persist(StorageLevel.MEMORY_AND_DISK)
          res.hash("minhash_near_dups", force(p, counters))
          p
        }
        val labels = tr.span("ops.cluster_safe_split") {
          val split = Split.clusterSafeSplit(docs.select("doc_id"), pairs, "doc_id", 0.2, a.seed)
            .select("doc_id", "cluster_id", "is_test")
          val rows = split.queryExecution.toRdd
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).collect()
          counters.foreach(_.recordForced(split.queryExecution))
          rows
        }
        (pairs, labels)
      }
      res.sample("dedup_s", s)
      if (i == 0) {
        found = pairs.select("idA", "idB").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        clusters = labels.groupBy(_._2).count(_._2.length > 1).toLong
      }
      pairs.unpersist(blocking = true)
      checkSplit(labels, found, res)
    }
    res.perLayer("functions.pairs_out", found.size.toDouble)
    res.perLayer("functions.clusters_out", clusters.toDouble)
    val plantedPairs = planted.iterator.flatMap(m =>
      for (x <- m.iterator; y <- m.iterator if x < y) yield (x, y)).toSeq
    res.perLayer("functions.planted_pair_recall",
      plantedPairs.count(found.contains).toDouble / math.max(1, plantedPairs.size))
    layerReport(tr, counters, iters, DedupWarmup, "dedup.", res, Map(
      "functions.minhash_near_dups" -> "functions.minhash_near_dups_s",
      "ops.cluster_safe_split" -> "ops.cluster_safe_split_s"))
  }

  /** Cluster-safe split checks over (doc_id, cluster_id, is_test) labels. */
  private def checkSplit(labels: Array[(Long, Long, Int)], pairs: Set[(Long, Long)],
                 res: Result): Unit = {
    val straddle = labels.groupBy(_._2).count(_._2.map(_._3).distinct.length > 1)
    res.check("no cluster straddles train and test", straddle == 0, s"$straddle clusters")
    val cid = labels.map(l => l._1 -> l._2).toMap
    val split = pairs.count { case (x, y) => cid.get(x) != cid.get(y) }
    res.check("every near-dup pair shares a cluster", split == 0, s"$split pairs")
  }

  private def force(df: DataFrame, counters: Option[SparkCounters]): RowHash = {
    val h = RowHash.force(df)
    counters.foreach(_.recordForced(df.queryExecution))
    h
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}

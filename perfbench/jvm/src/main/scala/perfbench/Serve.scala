package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.serving.{DiskKv, OnlineStore, ServingServer}
import graft.streaming.{StreamingLatest, StreamingOnline}

/** The system side of the serving workload: set up an [[OnlineStore]] over
  * a [[DiskKv]] (4 precomputed features, 1 on-demand expression feature, an
  * indexed vector table), serve it with [[ServingServer]], and keep the
  * stream-fed feature `f_d` fresh with `StreamingLatest.latestValueStream`
  * -> `StreamingOnline.onlineSink` once update files arrive. The load comes
  * from [[LoadGen]] in another process. */
object Serve {

  private val SetupReps = 2

  def run(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val feats = spark.read.parquet(s"${a.data}/features.parquet")
    val vecs = spark.read.parquet(s"${a.data}/vectors.parquet")

    // set up SetupReps times into fresh stores; serve the last one
    val built = (1 to SetupReps).map { _ =>
      val dir = Files.createTempDirectory(Paths.get(a.runDir), "kv")
      val (store, s) = Main.timed {
        val store = new OnlineStore(new DiskKv(dir.toString))
        Seq("f_a", "f_b", "f_c").foreach(f =>
          store.load(f, feats.select(col("entity"), col(f).as("value"))))
        store.loadWithTs("f_d", feats.select(col("entity"), col("f_d").as("value"),
          col("f_d_ts").cast("timestamp").as("ts")))
        store.registerOnDemandExpr(spark, "f_od", "f_a * 2.0 + f_b",
          StructType(Seq(StructField("f_a", DoubleType), StructField("f_b", DoubleType))))
        store.loadVectors("emb", vecs)
        store.buildIndex("emb")
        store
      }
      (store, dir, s)
    }
    built.init.foreach(b => deleteTree(b._2))
    val (store, kvDir, _) = built.last
    res.num("setup_work_s", Main.median(built.map(_._3)))

    val server = new ServingServer(store, threads = a.nproc).start()
    val streamCounters = new StreamCounters
    val streamDir = Paths.get(a.runDir, "stream")
    // the stream starts when the load generator's second phase asks for it
    // (an idle stream polls its directory, which would load the reads-only
    // phase): `<dir>.start` appears, the query starts, `<dir>.started` answers
    Files.createDirectories(streamDir)
    spark.streams.addListener(streamCounters)
    val startFile = Paths.get(s"$streamDir.start")
    val query = new java.util.concurrent.CompletableFuture[StreamingQuery]()
    val starter = new Thread(() => {
      while (!Files.exists(startFile) && !query.isDone) Thread.sleep(10)
      if (!query.isDone) {
        query.complete(StreamingOnline.onlineSink(
          StreamingLatest.latestValueStream(spark,
            StreamingLatest.readTripleStream(spark, streamDir.toString)).toDF(),
          "f_d", new DiskKv(kvDir.toString).clientFactory,
          Paths.get(a.runDir, "checkpoint").toString))
        Files.createFile(Paths.get(s"$streamDir.started"))
      }
    })
    starter.setDaemon(true)
    starter.start()
    println(s"READY ${server.boundPort} $streamDir")
    System.out.flush()

    // serve until the harness says the load is over
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    Iterator.continually(in.readLine()).find(l => l == null || l.startsWith("STOP"))

    if (!query.isDone) query.cancel(false)
    starter.join()
    if (!query.isCancelled) {
      query.get.processAllAvailable()
      query.get.stop()
    }
    val batches = streamCounters.snapshot
    def p50(k: String) = Main.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    res.perLayer(Map(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.rows_per_batch" -> Main.median(batches.map(_.rows.toDouble)),
      "streaming.trigger_ms_p50" -> p50("triggerExecution"),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.query_planning_ms_p50" -> p50("queryPlanning"),
      "streaming.state_rows" -> batches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0)))
    // final served state of the stream-fed feature, for the newest-wins check
    val nEntities = feats.count()
    val out = new StringBuilder
    var e = 0L
    while (e < nEntities) {
      store.get("f_d", e) match {
        case Some(r: org.apache.spark.sql.Row) => out.append(s"$e\t${r.getDouble(0)}\t${r.getLong(1)}\n")
        case other => out.append(s"$e\t$other\n")
      }
      e += 1
    }
    Files.write(Paths.get(a.runDir, "final_f_d.tsv"), out.toString.getBytes(UTF_8))

    if (a.trace) directTiming(store, a, res, nEntities)
    val segs = segmentFiles(kvDir)
    res.perLayer("serving.kv_segments", segs.size.toDouble)
    res.perLayer("serving.kv_bytes_per_live_byte", bytesPerLiveByte(store, kvDir, nEntities))
    server.stop()
    deleteTree(kvDir)
  }

  /** In-process timing of the store calls the handlers make, over a fixed
    * key sample: `OnlineStore.get` and `OnlineStore.nearest`. */
  private def directTiming(store: OnlineStore, a: Main.Args, res: Result, n: Long): Unit = {
    val rnd = new scala.util.Random(a.seed)
    val keys = Array.fill(20000)(rnd.nextInt(n.toInt).toLong)
    def perCallUs(n: Int)(f: Int => Any): Double = {
      (0 until math.min(n, 2000)).foreach(f) // warm
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { f(i); i += 1 }
      (System.nanoTime() - t0) / 1e3 / n
    }
    res.perLayer("serving.store_get_us", perCallUs(keys.length)(i => store.get("f_a", keys(i))))
    val probes = scala.io.Source.fromFile(s"${a.data}/probes.tsv").getLines()
      .map(_.split('\t')(0).split(',').map(_.toFloat)).toArray
    res.perLayer("serving.vector_nearest_us",
      perCallUs(2000)(i => store.nearest("emb", probes(i % probes.length), 10)))
  }

  private def segmentFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("seg-")).toList
    finally s.close()
  }

  /** On-disk bytes of the `f_d` table over the serialized size of its live
    * (newest) entries: 1.0 for a freshly loaded table, growing with every
    * streamed segment until compaction. */
  private def bytesPerLiveByte(store: OnlineStore, root: Path, n: Long): Double = {
    val table = segmentFiles(root).filter(_.getParent.getParent.getFileName.toString.startsWith("f_d-"))
    val onDisk = table.map(Files.size).sum.toDouble
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    var e = 0L
    while (e < n) {
      store.get("f_d", e).foreach { v => oos.writeObject(e: java.lang.Long); oos.writeObject(v) }
      e += 1
    }
    oos.close()
    if (bos.size() == 0) 0.0 else onDisk / bos.size()
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
}

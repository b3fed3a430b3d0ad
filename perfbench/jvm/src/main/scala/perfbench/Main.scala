package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The system side of one benchmark run: a JVM that builds a local Spark
  * session, sets up one workload over generated inputs, runs it and writes
  * its raw measurements as JSON for `run.py` to summarize and check.
  *
  *   java -cp <classpath> perfbench.Main --workload training_set
  *     --data <input dir> --seconds 10 --trace 0 --nproc 4 --seed 1
  *     --spawn-ms <epoch ms the process was started> --out result.json
  *     --rundir <directory for this run's stores, streams and checkpoints>
  *     [--corpus <corpus input dir>]
  *
  * A traced `training_set` run (`--trace 1`) also runs the corpus-dedup
  * journey over `--corpus`.
  *
  * The serving workload prints `READY <port> <stream dir>` once the server
  * is up, then serves until a `STOP` line arrives on stdin.
  *
  * `perfbench.Main --oracle-sql <dir>` writes the program's oracle SQL for
  * the queries the benchmark replays (one `<name>.sql` file each) and
  * exits. */
object Main {

  final case class Args(workload: String, data: String, seconds: Double,
                        trace: Boolean, nproc: Int, seed: Long,
                        spawnMs: Long, out: String, runDir: String, corpus: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("oracle-sql") match {
      case Some(dir) => return dumpOracleSql(dir)
      case None =>
    }
    val a = Args(kv("workload"), kv("data"), kv("seconds").toDouble,
      kv("trace") == "1", kv("nproc").toInt, kv("seed").toLong,
      kv("spawn-ms").toLong, kv("out"), kv("rundir"), kv.getOrElse("corpus", ""))
    val res = new Result
    val spark = buildSession(a.nproc)
    res.num("session_s", (System.currentTimeMillis() - a.spawnMs) / 1000.0)
    try {
      a.workload match {
        case "training_set" =>
          Offline.trainingSet(spark, a, res)
          if (a.trace) Offline.corpusDedup(spark, a, res)
        case "online_serve" => Serve.run(spark, a, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      res.num("peak_rss_mb", vmHwmMb())
    } catch {
      case e: Throwable =>
        res.check("no exception", ok = false, e.toString)
        e.printStackTrace()
    } finally {
      Files.write(Paths.get(a.out), res.json.getBytes(UTF_8))
      spark.stop()
    }
    System.exit(0)
  }

  /** The oracle entries the benchmark replays in DuckDB. */
  val OracleNames: Seq[String] =
    Seq("feat_latest_ts", "pit_lag", "pit_window_agg", "minhash_near_dups")

  private def dumpOracleSql(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    OracleNames.foreach { n =>
      Files.write(Paths.get(dir, s"$n.sql"), graft.SparkEntry.oracleSql(n).getBytes(UTF_8))
    }
  }

  def buildSession(nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM (VmHWM) in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Wall seconds of `body`, with its value. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** Raw measurements of one run, written as JSON: scalar numbers, sample
  * series, output hashes, per-layer metrics and correctness checks. */
final class Result {
  private val nums = mutable.LinkedHashMap.empty[String, Double]
  private val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val hashes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  private val spanRows = mutable.ArrayBuffer.empty[Span]

  def num(k: String, v: Double): Unit = synchronized(nums(k) = v)
  def numOr(k: String, d: Double = 0.0): Double = synchronized(nums.getOrElse(k, d))
  def spans(ss: Seq[Span]): Unit = synchronized(spanRows ++= ss)
  def sample(k: String, v: Double): Unit =
    synchronized(series.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v)
  def hash(k: String, h: RowHash): Unit =
    synchronized(hashes.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += h.hex)
  def perLayer(k: String, v: Double): Unit = synchronized(layer(k) = v)
  def perLayer(m: Map[String, Double]): Unit = synchronized(m.foreach { case (k, v) => layer(k) = v })
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    synchronized(checks += ((name, ok, detail)))

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def n(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def json: String = synchronized {
    def obj[V](m: Iterable[(String, V)])(f: V => String) =
      m.map { case (k, v) => q(k) + ":" + f(v) }.mkString("{", ",", "}")
    "{" + Seq(
      "\"nums\":" + obj(nums)(n),
      "\"series\":" + obj(series)(_.map(n).mkString("[", ",", "]")),
      "\"hashes\":" + obj(hashes)(_.map(q).mkString("[", ",", "]")),
      "\"per_layer\":" + obj(layer)(n),
      "\"spans\":" + spanRows.map(x =>
        s"[${q(x.name)},${x.startMs},${x.endMs},${x.parent},${x.trace}]").mkString("[", ",", "]"),
      "\"checks\":" + checks.map { case (c, ok, d) =>
        s"""{"name":${q(c)},"ok":$ok,"detail":${q(d)}}""" }.mkString("[", ",", "]")
    ).mkString(",") + "}"
  }
}

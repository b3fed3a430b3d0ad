package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

/** Open-loop load generator for the serving workload, run in its own JVM
  * next to the server's:
  *
  *   java -cp <classpath> perfbench.LoadGen --port P --data DIR --seed S
  *     --nproc N --seconds T --nominal-rps R --trace 0|1 --stream-dir DIR
  *     --out result.json
  *
  * After a warm-up it runs two phases: reads only at R requests/s for `T`
  * seconds, then the same reads at R / 4 for at most 4 seconds while
  * update files are dropped into the server's stream directory (5 files/s).
  * Requests follow a fixed schedule (request j is due at t0 + j / R) over
  * `nproc - 1` connections, one thread each; one more thread drops the
  * update files and polls their marker rows. Latency counts from when a request was due, so a stall also
  * delays every request queued behind it. Every response is checked against
  * the generated answers; a timeout, non-200 status or wrong value is a
  * failure. */
object LoadGen {

  /** Every /features request asks for all five features, on-demand last. */
  val FeaturePath = "/features?names=f_a,f_b,f_c,f_d,f_od&entity="
  val LimitMs = 10.0
  /** A phase that falls this far behind its schedule stops sending. */
  val MaxBehindNs = 5000000000L

  // ------------------------------------------------------------ HTTP client
  /** One client connection. `keepAlive = false` opens a fresh connection
    * per request and resets it after the response (no TIME_WAIT pile-up).
    * Kept-alive connections to the JDK server stall ~40 ms on many requests
    * (the server writes headers and body as two segments without
    * TCP_NODELAY, and the client delays its ACK), and whether a request
    * stalls depends on timing, so the scheduled load uses fresh
    * connections and a separate kept-alive probe measures the stall. */
  final class Conn(port: Int, keepAlive: Boolean) {
    private var sock: Socket = _
    private var out: BufferedOutputStream = _
    private var in: InputStream = _

    private def open(): Unit = {
      sock = new Socket()
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(5000)
      if (!keepAlive) sock.setSoLinger(true, 0)
      sock.connect(new InetSocketAddress("127.0.0.1", port), 5000)
      out = new BufferedOutputStream(sock.getOutputStream, 4096)
      in = new BufferedInputStream(sock.getInputStream, 16384)
    }
    def close(): Unit = if (sock != null) { try sock.close() catch { case _: Throwable => () }; sock = null }

    private def line(): String = {
      val b = new java.lang.StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        if (c != '\r') b.append(c.toChar)
        c = in.read()
      }
      b.toString
    }

    /** GET `path`; (status, body), or (-1, error) on a transport failure. */
    def get(path: String): (Int, String) =
      try {
        if (sock == null) open()
        out.write(s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(US_ASCII))
        out.flush()
        val status = line().split(' ')(1).toInt
        var len = 0
        var h = line()
        while (h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0 && h.substring(0, i).equalsIgnoreCase("content-length"))
            len = h.substring(i + 1).trim.toInt
          h = line()
        }
        val body = in.readNBytes(len)
        if (body.length < len) throw new java.io.EOFException("short body")
        if (!keepAlive) close()
        (status, new String(body, UTF_8))
      } catch {
        case e: Throwable => close(); (-1, e.toString)
      }
  }

  // ------------------------------------------------------- expected answers
  final class Answers(data: String) {
    private val rows = Files.readAllLines(Paths.get(data, "features.tsv")).toArray(new Array[String](0))
      .map(_.split('\t'))
    val n: Int = rows.length
    val fa: Array[Double] = rows.map(_(1).toDouble)
    val fb: Array[Double] = rows.map(_(2).toDouble)
    val fc: Array[Double] = rows.map(_(3).toDouble)
    val fd: Array[Double] = rows.map(_(4).toDouble)
    val fdt: Array[Long] = rows.map(_(5).toLong)

    /** (file, entity, value, ts ms) of every streamed update row. */
    val updates: Array[(Int, Long, Double, Long)] =
      Files.readAllLines(Paths.get(data, "updates.tsv")).toArray(new Array[String](0))
        .map { l => val x = l.split('\t'); (x(0).toInt, x(1).toLong, x(2).toDouble, x(3).toLong) }
    private val updated: Map[Long, Set[(Double, Long)]] =
      updates.groupBy(_._2).map { case (e, us) => e -> us.map(u => (u._3, u._4)).toSet }
    /** The marker row of each update file: (entity, value, ts ms). */
    val markers: Map[Int, (Long, Double, Long)] =
      updates.groupBy(_._1).map { case (f, us) => f -> us.last }.map { case (f, u) => f -> (u._2, u._3, u._4) }
    /** A served f_d must be the base value or one of the entity's updates. */
    def fdValid(e: Int, v: Double, t: Long): Boolean =
      (v == fd(e) && t == fdt(e)) || updated.get(e.toLong).exists(_.contains((v, t)))

    val probes: Array[(String, Array[Long], Array[Double])] =
      Files.readAllLines(Paths.get(data, "probes.tsv")).toArray(new Array[String](0)).map { l =>
        val x = l.split('\t')
        (x(0), x(1).split(',').map(_.toLong), x(2).split(',').map(_.toDouble))
      }
  }

  private val ValuesRe = """\{"entity":"?(-?\d+)"?,"values":\[([^,\]]+),([^,\]]+),([^,\]]+),\[([^,\]]+),(-?\d+)\],([^,\]]+)\]\}""".r
  private val HitRe = """\{"id":(\d+),"sim":([^}]+)\}""".r

  /** Whether a /features body is exactly the expected row of entity `e`. */
  def featuresOk(ans: Answers, e: Int, body: String): Boolean = body match {
    case ValuesRe(ent, a, b, c, d, t, od) =>
      ent.toInt == e && a.toDouble == ans.fa(e) && b.toDouble == ans.fb(e) &&
        c.toDouble == ans.fc(e) && od.toDouble == ans.fa(e) * 2.0 + ans.fb(e) &&
        ans.fdValid(e, d.toDouble, t.toLong)
    case _ => false
  }

  /** (ok, recall@10) of a /nearest body against the exact top-10: 10 hits,
    * non-increasing similarity, each similarity the exact cosine of its id
    * (ids outside the exact top-10 must not beat the 10th). */
  def nearestCheck(p: (String, Array[Long], Array[Double]), body: String): (Boolean, Double) = {
    val hits = HitRe.findAllMatchIn(body).map(m => (m.group(1).toLong, m.group(2).toDouble)).toArray
    val exact = p._2.zip(p._3).toMap
    val tenth = p._3.last
    val ok = hits.length == 10 &&
      hits.sliding(2).forall(w => w.length < 2 || w(0)._2 >= w(1)._2) &&
      hits.forall { case (id, s) =>
        exact.get(id).map(x => math.abs(x - s) <= 1e-9).getOrElse(s <= tenth + 1e-9)
      }
    (ok, hits.count(h => exact.contains(h._1)) / 10.0)
  }

  // --------------------------------------------------------------- schedule
  final class Phase(val name: String, val rate: Double, val seconds: Double, val traced: Boolean,
                    ans: Answers, rnd: java.util.SplittableRandom, zipf: Array[Double]) {
    val n: Int = math.max(1, (rate * seconds).round.toInt)
    val isNearest: Array[Boolean] = Array.fill(n)(rnd.nextDouble() < 0.1)
    val key: Array[Int] = Array.tabulate(n) { j =>
      if (isNearest(j)) rnd.nextInt(ans.probes.length)
      else {
        val i = java.util.Arrays.binarySearch(zipf, rnd.nextDouble())
        math.min(zipf.length - 1, if (i >= 0) i else -i - 1)
      }
    }
    val dueNs, sendNs, endNs = new Array[Long](n)
    /** Traced phases record spans in even seconds of the schedule only, so
      * the odd seconds measure the same load untraced. */
    def tracedAt(j: Int): Boolean = traced && ((j / rate).toInt % 2 == 0)
    val spans = mutable.ArrayBuffer.empty[Span]
    val ok = new Array[Boolean](n)
    val recall = new Array[Double](n)
    var t0: Long = 0L
  }

  /** Zipf(0.9) CDF over entity ranks; rank r is entity r. */
  private def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, 0.9))
    val s = w.sum
    var acc = 0.0
    w.map { x => acc += x / s; acc }
  }

  def runPhase(p: Phase, conns: Array[Conn], ans: Answers): Unit = {
    val t = conns.length
    p.t0 = System.nanoTime() + 20000000L
    val step = 1e9 / p.rate
    val threads = (0 until t).map { k =>
      new Thread(() => {
        val mine = mutable.ArrayBuffer.empty[Span]
        var j = k
        while (j < p.n) {
          val due = p.t0 + (j * step).toLong
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          p.dueNs(j) = due
          p.sendNs(j) = now
          if (now - due > MaxBehindNs) {
            // hopelessly behind schedule: stop sending; the rest count as failed
            p.endNs(j) = now
          } else if (p.isNearest(j)) {
            val probe = ans.probes(p.key(j))
            val (code, body) = conns(k).get("/nearest?feature=emb&k=10&q=" + probe._1)
            p.endNs(j) = System.nanoTime()
            if (code == 200) {
              val (ok, r) = nearestCheck(probe, body)
              p.ok(j) = ok; p.recall(j) = r
            }
          } else {
            val e = p.key(j)
            val (code, body) = conns(k).get(FeaturePath + e)
            p.endNs(j) = System.nanoTime()
            p.ok(j) = code == 200 && featuresOk(ans, e, body)
          }
          if (p.tracedAt(j))
            mine += Span(j + 1, if (p.isNearest(j)) "serving./nearest" else "serving./features",
              0, j + 1, p.sendNs(j) / 1e6, p.endNs(j) / 1e6)
          j += t
        }
        p.spans.synchronized(p.spans ++= mine)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  // ------------------------------------------------------------------ stats
  def quantile(xs: Array[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def latMs(p: Phase, nearest: Boolean): Array[Double] =
    p.dueNs.indices.filter(j => p.isNearest(j) == nearest && p.ok(j))
      .map(j => (p.endNs(j) - p.dueNs(j)) / 1e6).toArray

  // ---------------------------------------------------------------- ingest
  /** Drops update files on a fixed schedule and polls each file's marker
    * row on /features until it is served; records lag and backlog. */
  final class Ingest(ans: Answers, data: String, streamDir: String, filesPerS: Double, conn: Conn) {
    val landedNs = mutable.ArrayBuffer.empty[Long]
    val lagMs = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Double]
    var polls = 0L
    var pollFailures = 0L
    private var seen = 0

    private def markerServed(i: Int): Boolean = {
      val (e, v, t) = ans.markers(i)
      val (code, body) = conn.get(s"/features?names=f_d&entity=$e")
      polls += 1
      if (code != 200) { pollFailures += 1; false }
      else body.endsWith(s""""values":[[$v,$t]]}""")
    }

    private def pollOnce(): Unit =
      while (seen < landedNs.length && markerServed(seen)) {
        lagMs += (System.nanoTime() - landedNs(seen)) / 1e6
        seen += 1
      }

    /** Run until `untilNs`, then wait (at most `drainS`) for every marker. */
    def run(startNs: Long, untilNs: Long, drainS: Double): Int = {
      var nextSample = startNs
      var i = 0
      while (System.nanoTime() < untilNs) {
        val due = startNs + (i * 1e9 / filesPerS).toLong
        val now = System.nanoTime()
        if (now >= due && i < ans.markers.size) {
          val src = Paths.get(data, "updates", f"part-$i%05d.parquet")
          val tmp = Paths.get(streamDir, f".part-$i%05d.parquet.tmp")
          Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, Paths.get(streamDir, f"part-$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
          landedNs += System.nanoTime()
          i += 1
        }
        if (now >= nextSample) { backlog += (landedNs.length - seen).toDouble; nextSample += 100000000L }
        pollOnce()
        LockSupport.parkNanos(2000000L)
      }
      val deadline = System.nanoTime() + (drainS * 1e9).toLong
      while (seen < landedNs.length && System.nanoTime() < deadline) {
        pollOnce()
        LockSupport.parkNanos(2000000L)
      }
      landedNs.length
    }

    def unseen: Int = landedNs.length - seen
  }

  // ------------------------------------------------------------------ main
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val port = kv("port").toInt
    val nproc = kv("nproc").toInt
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val nominal = kv("nominal-rps").toDouble
    val ans = new Answers(kv("data"))
    val rnd = new java.util.SplittableRandom(kv("seed").toLong)
    val zipf = zipfCdf(ans.n)
    val conns = Array.fill(math.max(1, nproc - 1))(new Conn(port, keepAlive = false))
    val aux = new Conn(port, keepAlive = false)
    val res = new Result

    def phase(name: String, rate: Double, s: Double, tr: Boolean = false) =
      new Phase(name, rate, s, tr, ans, rnd, zipf)

    def scrape(): Map[String, Double] = {
      val (code, body) = aux.get("/metrics")
      if (code != 200) Map.empty
      else body.split('\n').filter(l => l.nonEmpty && !l.startsWith("#")).flatMap { l =>
        val i = l.lastIndexOf(' ')
        l.substring(i + 1).toDoubleOption.map(l.substring(0, i) -> _)
      }.toMap
    }
    /** Run `p` (beside `side`, if any) and return the /metrics deltas. */
    def measured(p: Phase)(side: => Unit): String => Double = {
      val before = scrape()
      val t = new Thread(() => side)
      t.start()
      runPhase(p, conns, ans)
      t.join()
      val after = scrape()
      record(res, p.name, p)
      k => after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
    }
    def mean(delta: String => Double, series: String, label: String) = {
      val c = delta(s"${series}_count$label")
      if (c <= 0) 0.0 else delta(s"${series}_sum$label") / c
    }
    val FeatRoute = """{path="/features"}"""

    // warm-up: JIT, connection set-up, bucket caches after first touch
    val warm = phase("warmup", nominal / 2, 1.0)
    runPhase(warm, conns, ans)
    record(res, warm.name, warm)

    // phase 1, reads only: the working set stays in DiskKv's bucket cache
    val nom = phase("nominal", nominal, seconds, traced)
    val d1 = measured(nom)(())
    val lk = latMs(nom, nearest = false)
    lk.foreach(res.sample("lookup_ms", _))
    // due time of each lookup, seconds into the phase (aligned with lookup_ms)
    nom.dueNs.indices.filter(j => !nom.isNearest(j) && nom.ok(j))
      .foreach(j => res.sample("lookup_at_s", (nom.dueNs(j) - nom.t0) / 1e9))
    latMs(nom, nearest = true).foreach(res.sample("nearest_ms", _))
    nom.recall.indices.filter(nom.isNearest).foreach(j => res.sample("recall", nom.recall(j)))
    nom.sendNs.indices.foreach(j => res.sample("late_ms", (nom.sendNs(j) - nom.dueNs(j)) / 1e6))
    val handler = mean(d1, "graft_request_latency_ms", FeatRoute)
    res.perLayer("serving.handler_ms_mean", handler)
    res.perLayer("serving.store_ms_mean", mean(d1, "graft_feature_latency_ms", """{feature="f_a"}"""))
    res.perLayer("serving.nearest_handler_ms_mean",
      mean(d1, "graft_request_latency_ms", """{path="/nearest"}"""))
    res.perLayer("serving.outside_handler_ms", (if (lk.isEmpty) 0.0 else lk.sum / lk.length) - handler)
    if (traced) {
      res.spans(nom.spans.toSeq)
      def p50(on: Boolean) = quantile(nom.dueNs.indices
        .filter(j => !nom.isNearest(j) && nom.ok(j) && nom.tracedAt(j) == on)
        .map(j => (nom.endNs(j) - nom.dueNs(j)) / 1e6).toArray, 0.5)
      val off = p50(false)
      res.perLayer("trace.overhead_frac", if (off > 0) p50(true) / off - 1.0 else 0.0)
      // per-layer only: the kept-alive stall and the rate ladder
      keepAliveProbe(port, ans, () => scrape(), res)
      rateLadder(conns, ans, res, phase(_, _, 1.0))
    }

    // phase 2, the same reads while update files stream into the same
    // store: every micro-batch adds segments and invalidates cached buckets
    val streamDir = kv("stream-dir")
    Files.createFile(Paths.get(s"$streamDir.start"))
    val deadline = System.nanoTime() + 60000000000L
    while (!Files.exists(Paths.get(s"$streamDir.started")) && System.nanoTime() < deadline)
      Thread.sleep(10)
    val g = new Ingest(ans, kv("data"), streamDir, 5.0, new Conn(port, keepAlive = false))
    // at a quarter of the rate: every read of a bucket the stream touched
    // rebuilds it, and at higher rates the server saturates on some runs
    val ingestS = math.min(seconds, 4.0)
    val ing = phase("ingest", nominal / 4, ingestS)
    var filesDropped = 0
    val d2 = measured(ing) {
      val start = System.nanoTime()
      filesDropped = g.run(start, start + (ingestS * 1e9).toLong, 30.0)
    }
    val il = latMs(ing, nearest = false)
    res.perLayer("ingest.lookup_p50_ms", quantile(il, 0.5))
    res.perLayer("ingest.lookup_p99_ms", quantile(il, 0.99))
    res.perLayer("ingest.store_ms_mean", mean(d2, "graft_feature_latency_ms", """{feature="f_d"}"""))
    g.lagMs.foreach(res.sample("ingest_lag_ms", _))
    res.num("ingest.files_dropped", filesDropped)
    res.num("ingest.polls", g.polls)
    res.num("ingest.poll_failures", g.pollFailures)
    res.perLayer("streaming.backlog_files",
      if (g.backlog.isEmpty) 0.0 else g.backlog.sum / g.backlog.size)
    res.check("every dropped update file is served", g.unseen == 0,
      s"${g.unseen} of $filesDropped markers never served")

    res.num("gen.threads", conns.length + 1)
    (conns :+ aux).foreach(_.close())
    Files.write(Paths.get(kv("out")), res.json.getBytes(UTF_8))
  }

  /** One kept-alive connection, 100 sequential requests 20 ms apart: the
    * client mean minus the handler mean (from /metrics) is the per-request
    * stall of reused connections. */
  private def keepAliveProbe(port: Int, ans: Answers, scrape: () => Map[String, Double],
                             res: Result): Unit = {
    val ka = new Conn(port, keepAlive = true)
    val before = scrape()
    val lat = (0 until 100).map { i =>
      LockSupport.parkNanos(20000000L)
      val e = ans.n - 1 - i
      val t0 = System.nanoTime()
      val (code, body) = ka.get(FeaturePath + e)
      val ms = (System.nanoTime() - t0) / 1e6
      if (code != 200 || !featuresOk(ans, e, body))
        res.check("kept-alive probe answers correctly", ok = false, s"entity $e: $code $body")
      ms
    }.toArray
    ka.close()
    val after = scrape()
    def delta(k: String) = after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
    val c = delta("graft_request_latency_ms_count{path=\"/features\"}")
    val handler = if (c > 0) delta("graft_request_latency_ms_sum{path=\"/features\"}") / c else 0.0
    res.perLayer("serving.keepalive_ms_p50", quantile(lat, 0.5))
    res.perLayer("serving.keepalive_outside_handler_ms", lat.sum / lat.length - handler)
  }

  /** Doubling offered rates, one second each, until /features p99 exceeds
    * [[LimitMs]], a request fails or the backlog grows (the last tenth of a
    * step is sent more than [[LimitMs]] late at the median); the achieved
    * rate of the last passing step is `max_rate_rps`. */
  private def rateLadder(conns: Array[Conn], ans: Answers, res: Result,
                         phase: (String, Double) => Phase): Unit = {
    var rate = 100.0
    var best = 0.0
    var go = true
    while (go && rate <= 64000) {
      val p = phase(s"ladder_${rate.toInt}", rate)
      runPhase(p, conns, ans)
      record(res, p.name, p)
      val p99 = quantile(latMs(p, nearest = false), 0.99)
      val lateTail = p.sendNs.indices.drop(p.n * 9 / 10)
        .map(j => (p.sendNs(j) - p.dueNs(j)) / 1e6).toArray
      val pass = p.ok.forall(identity) && p99 <= LimitMs && quantile(lateTail, 0.5) <= LimitMs
      res.num(s"ladder.${rate.toInt}.p99_ms", p99)
      if (pass) {
        best = p.n / ((p.endNs.max - p.t0) / 1e9)
        rate *= 2
      } else go = false
    }
    res.perLayer("max_rate_rps", best)
  }

  private def record(res: Result, name: String, p: Phase): Unit = {
    val failed = p.ok.count(!_)
    res.num(s"$name.sent", p.n)
    res.num(s"$name.failed", failed)
    res.num("requests_sent", res.numOr("requests_sent") + p.n)
    res.num("requests_failed", res.numOr("requests_failed") + failed)
  }
}

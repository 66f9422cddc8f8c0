package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.InMemoryBroker
import perfbench.Wire.Sample

/** `graft.App` run inside the benchmark's process, on a thread of its own,
  * with the CLI's flags. Its in-memory broker is the CLI's default broker.
  */
final class AppRun(args: Array[String]) {
  @volatile var error: Throwable = _
  private val thread = new Thread(() =>
    try graft.App.main(args) catch { case t: Throwable => error = t }, s"app-${args(0)}")
  thread.setDaemon(true)
  thread.start()

  /** The session App built; waits for it. */
  def session(): SparkSession = {
    val deadline = System.nanoTime() + 120e9.toLong
    while (System.nanoTime() < deadline) {
      if (error != null) throw new IllegalStateException(s"App ${args.mkString(" ")} failed", error)
      val s = SparkSession.getDefaultSession
      if (s.isDefined) return s.get
      Thread.sleep(2)
    }
    throw new IllegalStateException("App built no session within 120 s")
  }

  /** Stops App's streaming query (App then returns from main) and its session. */
  def stop(): Unit = {
    SparkSession.getDefaultSession.foreach(_.streams.active.foreach(_.stop()))
    thread.join(60000L)
    if (thread.isAlive) throw new IllegalStateException(s"App ${args(0)} did not return after its query stopped")
    Bridge.stopSession()
  }
}

/** What one run of a bridge workload measured. `setupS` and `firstS` hold
  * one value per set-up.
  */
final case class Run(
    setupS: Seq[Double],
    firstS: Seq[Double],
    attempted: Long,
    failed: Long,
    samples: Long,
    throughput: Double,
    latMs: Seq[Double],
    postMs: Seq[Double],
    lateMs: Seq[Double],
    cpuNs: Long,
    genCpuNs: Long,
    progress: Seq[StreamingQueryProgress],
    keyedMessages: Long,
    keyedBytes: Long,
    posts: Long,
    errors: Seq[String])

object Bridge {
  val ProduceSeries = 500
  val WalSeries = 50
  val Tenants = 24
  val OpenRate = 25.0 // requests per second, below produce saturation here
  val OpenFraction = 0.4 // share of --seconds spent in the open loop; the bursts follow
  val Senders = 3     // open-loop and burst connections; the broker watcher is the 4th thread
  val WalConns = 4
  val BurstRequests = 200
  val Bursts = 3 // samples_per_s is the median burst's
  val WalRequests = 6000
  val Backlog = 30000
  val WarmBacklog = 3000
  val MeasuredBacklogs = 3
  val BacklogTenants = 30
  val BatchSize = 100 // App consume's default --batch-size

  def stopSession(): Unit = {
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
  }

  private val postHeaders = Seq(
    "Content-Encoding" -> "snappy",
    "Content-Type" -> "application/x-protobuf",
    "X-Prometheus-Remote-Write-Version" -> "0.1.0")

  def post(c: Wire.Conn, tenant: String, body: Array[Byte]): Int =
    c.call("POST", "/write", postHeaders :+ ("X-Scope-OrgID" -> tenant), body)._1

  /** Drains the in-memory topic, stamping each message's landing time. */
  final class Watcher(topic: String) {
    val landed = new ArrayBuffer[(Long, InMemoryBroker.Message)]()
    private val n = new AtomicLong(0L)
    @volatile private var running = true
    @volatile var cpuNs = 0L
    private val q = InMemoryBroker.topic(topic)
    val thread = new Thread(() => {
      while (running) {
        var m = q.poll()
        if (m == null) LockSupport.parkNanos(500000L)
        while (m != null) {
          val now = System.nanoTime()
          landed.synchronized { landed += (now -> m) }
          n.incrementAndGet(); m = q.poll()
        }
      }
      cpuNs = Stats.threadCpuNs()
    }, "broker-watcher")
    thread.setDaemon(true); thread.start()
    def count: Long = n.get()
    def awaitCount(expected: Long, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (n.get() < expected && System.nanoTime() < deadline) Thread.sleep(2)
      n.get() >= expected
    }
    def stop(): Unit = { running = false; thread.join(5000L) }
  }

  /** A request with its timestamp, unique in its round, which maps landed
    * samples back to the request; `dueNs` is its due time in the open loop.
    */
  private final case class Planned(req: Gen.Req, ts: Long, dueNs: Long) {
    lazy val body: Array[Byte] = req.body(ts)
  }

  private def waitAccepting(port: Int, body: Array[Byte], tenant: String): Unit = {
    val deadline = System.nanoTime() + 120e9.toLong
    val c = new Wire.Conn(port)
    try {
      while (true) {
        val code =
          try post(c, tenant, body)
          catch { case _: java.io.IOException => c.close(); -1 }
        if (code == 200) return
        if (code > 0) throw new IllegalStateException(s"probe POST answered $code")
        if (System.nanoTime() > deadline) throw new IllegalStateException("receiver never answered 200")
        Thread.sleep(5)
      }
    } finally c.close()
  }

  private def scrapeReceived(port: Int): Long = {
    val c = new Wire.Conn(port)
    try {
      val (code, body) = c.call("GET", "/metrics", Nil, null)
      if (code != 200) return -1L
      new String(body, "UTF-8").linesIterator.collectFirst {
        case l if l.startsWith("received_samples_total ") => l.split(' ')(1).trim.toLong
      }.getOrElse(0L)
    } finally c.close()
  }

  /** Scrapes /metrics until received_samples_total reads `want` (it trails
    * the broker by a trigger), for at most 10 s; returns the last reading.
    */
  private def awaitReceived(port: Int, want: Long): Long = {
    val deadline = System.nanoTime() + 10e9.toLong
    var got = scrapeReceived(port)
    while (got != want && System.nanoTime() < deadline) { Thread.sleep(20); got = scrapeReceived(port) }
    got
  }

  /** The active query's progress once a trigger with data has reported:
    * a trigger reports only after its sink returns, which can be after the
    * last output was seen.
    */
  def progressOf(s: SparkSession): Seq[StreamingQueryProgress] =
    s.streams.active.toSeq.flatMap(awaitProgress)

  def awaitProgress(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (!q.recentProgress.exists(_.numInputRows > 0) && System.nanoTime() < deadline) Thread.sleep(10)
    q.recentProgress.toSeq
  }

  /** A produce pipeline that answered its first 200. */
  private final class Started(val app: AppRun, val port: Int, val watcher: Watcher, val setupS: Double,
      val firstS: Double, val probe: Sample) {
    def stop(tr: Tracer): Unit = {
      tr("app.stop") { app.stop() }
      graft.sources.HttpRemoteWriteSource.shutdown(port)
      watcher.stop()
    }
  }

  /** Starts App produce with the CLI's flags; set-up ends at the first 200
    * on /write, and the first result is that probe sample in the broker.
    */
  private def startProduce(ctx: Ctx, k: Int, wal: Boolean): Started = {
    val port = Wire.freePort()
    val topic = s"perfbench-${ctx.workload}-$k"
    val args = Array("produce", "--web.listen-port", port.toString, "--topic", topic) ++
      (if (wal) Array("--wal-dir", ctx.work.resolve(s"wal-$k").toString) else Array.empty[String])
    val probe = Sample("tenant-probe", Wire.sortLabels(Seq("__name__" -> "up", "job" -> "perfbench")),
      1000L + k, 1.0)
    val probeBody = Wire.snappy(Wire.encodeWriteRequest(Seq(probe.labels -> Seq(probe.value -> probe.ts))))
    val t0 = System.nanoTime()
    val watcher = new Watcher(topic)
    val app = ctx.tracer("app.setup") {
      val a = new AppRun(args)
      waitAccepting(port, probeBody, probe.tenant)
      a
    }
    val setupS = ctx.setupSeconds(k, t0)
    val setupEnd = System.nanoTime()
    if (!watcher.awaitCount(1, 60)) throw new IllegalStateException("the probe sample never reached the broker")
    val firstS = (watcher.landed.synchronized(watcher.landed.head._1) - setupEnd) / 1e9
    new Started(app, port, watcher, setupS, firstS, probe)
  }

  /** App produce (with its WAL for produce-wal) set up `setups` times. The
    * first, cold pipeline is warmed up, then driven for `seconds` and
    * checked; the restarts follow it, in a process whose JIT has settled,
    * and each is checked on its probe sample.
    */
  def produce(ctx: Ctx, wal: Boolean, setups: Int, seconds: Double): Run = {
    val tr = ctx.tracer
    val gen = new Gen(ctx.seed, if (wal) 200 else 100)
    val errors = ArrayBuffer.empty[String]
    val main = startProduce(ctx, 0, wal)
    val port = main.port
    val watcher = main.watcher

    val sent = new java.util.concurrent.ConcurrentLinkedQueue[Planned]()
    val failedTs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val postMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val genCpu = new AtomicLong(0L)
    val perReq = if (wal) WalSeries else ProduceSeries

    def runThreads(n: Int)(body: Int => Unit): Unit = {
      val ts = (0 until n).map { j =>
        val t = new Thread(() => { body(j); genCpu.addAndGet(Stats.threadCpuNs()) }, s"load-$j")
        t.start(); t
      }
      ts.foreach(_.join())
    }
    /** Sends `p`; on 200 returns the completion time, else records a failure. */
    def send(c: Wire.Conn, p: Planned, id: Long): Long = {
      val code = tr("sources.post", id) { post(c, p.req.tenant, p.body) }
      val done = System.nanoTime()
      sent.add(p)
      if (code != 200) { failedTs.add(p.ts); -1L } else done
    }
    /** Closed loop over `reqs` on `conns` connections; span ids start at `idBase`. */
    def closedLoop(conns: Int, reqs: IndexedSeq[Planned], idBase: Long, recordPost: Boolean): Unit = {
      val next = new AtomicInteger(0)
      runThreads(conns) { _ =>
        val c = new Wire.Conn(port)
        try {
          var i = next.getAndIncrement()
          while (i < reqs.length) {
            val s0 = System.nanoTime()
            val done = send(c, reqs(i), idBase + i)
            if (done > 0 && recordPost) postMs.add((done - s0) / 1e6)
            i = next.getAndIncrement()
          }
        } finally c.close()
      }
    }
    def landedCount(): Long = 1L + (sent.size - failedTs.size).toLong * perReq

    // warm-up: JIT and codegen settle before anything is timed
    val base = System.currentTimeMillis() - 86400000L
    val warm = Vector.tabulate(if (wal) 200 else 20) { i =>
      val r = gen.request(Tenants, perReq); Planned(r, base + i, 0L)
    }
    val warmTs = warm.map(_.ts).toSet
    closedLoop(Senders, warm, 1000000L, recordPost = false)
    watcher.awaitCount(landedCount(), 60)

    // the program's CPU is the process's less the benchmark's own threads
    // (this one, the load threads and the broker watcher) over the window
    def benchCpuNs(): Long = Stats.threadCpuNs() + Stats.threadCpuNs(watcher.thread) + genCpu.get()
    val cpu0 = Stats.processCpuNs()
    val bench0 = benchCpuNs()
    val phase0 = System.nanoTime()
    var open = Vector.empty[Planned]
    var bursts = Vector.empty[(Long, Vector[Planned])] // start time and requests
    var throughput = 0.0
    if (!wal) {
      // open loop: requests due on a fixed schedule, stamped with their due time
      val period = 1.0 / OpenRate
      val nOpen = math.max(1, (seconds * OpenFraction * OpenRate).toInt)
      val reqs = Vector.fill(nOpen)(gen.request(Tenants, ProduceSeries))
      val burstTs = System.currentTimeMillis() + 3600000L
      val burstPlanned = Vector.tabulate(Bursts, BurstRequests) { (b, i) =>
        Planned(gen.request(Tenants, ProduceSeries), burstTs + b * BurstRequests + i, 0L)
      }
      val e0 = System.nanoTime()
      burstPlanned.foreach(_.foreach(_.body)) // encoded before the timed part
      // the open loop's bodies are encoded before its start too; the bursts'
      // encoding time sizes the margin
      val marginNs = 200000000L + (System.nanoTime() - e0) * nOpen / (Bursts * BurstRequests) * 2
      val startMs = System.currentTimeMillis() + marginNs / 1000000L
      val startNs = System.nanoTime() + marginNs
      open = reqs.zipWithIndex.map { case (r, i) =>
        val ts = startMs + math.round(i * period * 1000)
        Planned(r, ts, startNs + (i * period * 1e9).toLong)
      }
      open.foreach(_.body)
      runThreads(Senders) { j =>
        val c = new Wire.Conn(port)
        // lateness is the generator's own slip: send time past the later
        // of the due time and the connection's last answer. A request due
        // while its connection still waits is timed from its due time, so
        // that wait counts in post_ms and land_ms.
        var free = 0L
        try open.indices.filter(_ % Senders == j).foreach { i =>
          val p = open(i)
          var now = System.nanoTime()
          while (now < p.dueNs) { LockSupport.parkNanos(math.min(p.dueNs - now, 1000000L)); now = System.nanoTime() }
          lateMs.add((now - math.max(p.dueNs, free)) / 1e6)
          val done = send(c, p, i)
          free = System.nanoTime()
          if (done > 0) postMs.add((done - p.dueNs) / 1e6)
        } finally c.close()
      }
      // each burst starts once everything sent before it has landed, so it
      // never queues behind an earlier trigger
      burstPlanned.zipWithIndex.foreach { case (reqs, b) =>
        watcher.awaitCount(landedCount(), 60)
        bursts :+= (System.nanoTime() -> reqs)
        closedLoop(Senders, reqs, 100000L + b * BurstRequests, recordPost = false)
      }
    } else {
      // closed loop: each connection sends its next request on the 200
      val pool = Vector.tabulate(WalRequests) { i =>
        val r = gen.request(Tenants, WalSeries); Planned(r, base + 100000L + i, 0L)
      }
      pool.foreach(_.body) // encoded before the timed part
      val phaseStartNs = System.nanoTime()
      closedLoop(WalConns, pool, 0L, recordPost = true)
      throughput = (pool.length - failedTs.size) / ((System.nanoTime() - phaseStartNs) / 1e9)
    }
    val allLanded = watcher.awaitCount(landedCount(), 60)
    val tStop = System.nanoTime()
    val cpuNs = Stats.processCpuNs() - cpu0 - (benchCpuNs() - bench0)
    val prog = progressOf(main.app.session())
    // received_samples_total is folded in from query progress, so it may
    // trail the broker by a trigger; a stop before the last progress event
    // would drop samples from the count
    val wantReceived = landedCount()
    val received = awaitReceived(port, wantReceived)
    main.stop(tr)
    // the counter is the process's, so each restart adds its probe to it
    val restarts = (1 until setups).map { k =>
      val s = startProduce(ctx, k, wal)
      val want = wantReceived + k
      val got = awaitReceived(s.port, want)
      if (got != want) errors += s"set-up $k: received_samples_total reads $got, expected $want"
      s.stop(tr)
      val msgs = s.watcher.landed.synchronized(s.watcher.landed.toVector)
        .map { case (_, m) => m.key -> Wire.parseJsonPayload(m.payload) }
      errors ++= Check.keys(msgs, s"set-up $k") ++ Check.multiset(Seq(s.probe), msgs.map(_._2), s"set-up $k")
      s
    }
    val starts = main +: restarts

    // --- checks, outside the timed part -----------------------------------
    val tCheck = System.nanoTime()
    val c0 = Stats.threadCpuNs()
    if (!allLanded) errors += s"${watcher.count} of ${landedCount()} samples reached the broker"
    if (received != wantReceived) errors += s"received_samples_total reads $received, expected $wantReceived"
    val landed = watcher.landed.synchronized(watcher.landed.toVector)
    val landedByTs = mutable.HashMap.empty[Long, Long]
    var keyedBytes = 0L
    val got = Par.map(landed)(l => l._2.key -> Wire.parseJsonPayload(l._2.payload))
    landed.zip(got).foreach { case ((t, m), (_, s)) =>
      keyedBytes += m.payload.length + m.key.length
      landedByTs(s.ts) = math.max(landedByTs.getOrElse(s.ts, 0L), t)
    }
    val ok = sent.asScala.toVector.filterNot(p => failedTs.contains(p.ts))
    errors ++= Check.keys(got, "load").take(20)
    errors ++= Check.multiset(main.probe +: ok.flatMap(p => p.req.samples(p.ts)), got.map(_._2), "load").take(20)
    val latMs = open.filterNot(p => failedTs.contains(p.ts)).flatMap(p => landedByTs.get(p.ts).map(l => (l - p.dueNs) / 1e6))
    if (!wal) throughput = Stats.median(bursts.map { case (startNs, reqs) =>
      val burstOk = reqs.filterNot(p => failedTs.contains(p.ts))
      val burstLast = burstOk.flatMap(p => landedByTs.get(p.ts)).maxOption.getOrElse(System.nanoTime())
      burstOk.length.toLong * ProduceSeries / ((burstLast - startNs) / 1e9)
    })
    open.zipWithIndex.foreach { case (p, i) =>
      landedByTs.get(p.ts).foreach(l => tr.record("streaming.land", i, p.dueNs, l))
    }
    genCpu.addAndGet(watcher.cpuNs + Stats.threadCpuNs() - c0)
    System.err.println(f"[perfbench] ${ctx.workload}: set-ups ${starts.map(s => f"${s.setupS}%.2f").mkString(" ")} s, " +
      f"load ${(tStop - phase0) / 1e9}%.2f s, check ${(System.nanoTime() - tCheck) / 1e9}%.2f s")
    val measured = ok.count(p => !warmTs.contains(p.ts)).toLong
    Run(starts.map(_.setupS), starts.map(_.firstS), sent.size.toLong, failedTs.size.toLong, measured * perReq,
      throughput, latMs, postMs.asScala.map(_.doubleValue).toSeq, lateMs.asScala.map(_.doubleValue).toSeq,
      cpuNs, genCpu.get(), prog, landed.length.toLong, keyedBytes, 0L, errors.toSeq)
  }

  /** App consume set up `setups` times, each time draining a backlog put
    * on the in-memory topic before it starts. The last `MeasuredBacklogs`
    * backlogs are measured; the earlier, smaller ones warm the process up.
    */
  def consume(ctx: Ctx, setups: Int): Run = {
    val tr = ctx.tracer
    val runs = (0 until setups).map { k =>
      val p0 = System.nanoTime()
      val gen = new Gen(ctx.seed, 300 + k)
      val topic = s"perfbench-consume-$k"
      val size = if (k >= setups - MeasuredBacklogs) Backlog else WarmBacklog
      val backlog = gen.backlog(size, BacklogTenants, 0.4, BatchSize, 1700000000000L)
      val q = InMemoryBroker.topic(topic)
      backlog.foreach(s => q.add(InMemoryBroker.Message(Wire.seriesKey(s.labels, s.tenant), Wire.jsonPayload(s))))
      val endpoint = new Wire.Endpoint(4)
      val args = Array("consume", "--topic", topic, "--remote-write.url", endpoint.url)

      val t0 = System.nanoTime()
      val app = tr("app.setup") {
        val a = new AppRun(args)
        val s = a.session()
        while (s.streams.active.isEmpty) {
          if (a.error != null) throw new IllegalStateException("App consume failed", a.error)
          Thread.sleep(1)
        }
        a
      }
      val setupS = ctx.setupSeconds(k, t0, prepS = (t0 - p0) / 1e9)
      val startNs = System.nanoTime()
      val cpu0 = Stats.processCpuNs()
      // decode POSTs as they arrive; the endpoint stamped their arrival
      val c0 = Stats.threadCpuNs()
      val decoded = ArrayBuffer.empty[(Wire.Post, Check.Series)]
      var n = 0L
      def drain(): Unit = {
        var p = endpoint.posts.poll()
        while (p != null) {
          val ser = Wire.decodeWriteRequest(Wire.unsnappy(p.body))
          decoded += (p -> ser); n += ser.map(_._2.length).sum
          p = endpoint.posts.poll()
        }
      }
      val deadline = System.nanoTime() + 120e9.toLong
      while (n < backlog.length && System.nanoTime() < deadline) { Thread.sleep(2); drain() }
      // the program's CPU is the process's less this thread's decoding and
      // the endpoint's answering over the drain
      val genCpuNs = Stats.threadCpuNs() - c0 + endpoint.cpuNs
      val cpuNs = Stats.processCpuNs() - cpu0 - genCpuNs
      val prog = progressOf(app.session())
      tr("app.stop") { app.stop() }
      // a POST after the last expected sample (a replayed batch) is checked too
      drain()
      endpoint.stop()
      InMemoryBroker.clear(topic)

      // --- checks --------------------------------------------------------
      val c1 = Stats.threadCpuNs()
      val ordered = decoded.sortBy(_._1.arrivalNs)
      val errors = Check.posts(backlog, ordered.map { case (p, ser) => p.tenant -> ser }.toSeq,
        BatchSize, s"backlog $k").take(20)
      val got = ordered.map(_._2.map(_._2.length).sum).sum
      val last = ordered.lastOption.map(_._1.arrivalNs).getOrElse(System.nanoTime())
      val firstS = ordered.headOption.map(p => (p._1.arrivalNs - startNs) / 1e9).getOrElse(0.0)
      val latMs = ordered.flatMap { case (p, ser) =>
        val ms = (p.arrivalNs - startNs) / 1e6
        Iterator.fill(ser.map(_._2.length).sum)(ms)
      }.toSeq
      ordered.foreach { case (p, _) => tr.record("streaming.post", 0L, startNs, p.arrivalNs) }
      System.err.println(f"[perfbench] consume set-up $k: $setupS%.2f s, drain ${(last - startNs) / 1e9}%.2f s, " +
        f"${ordered.length} posts")
      Run(Seq(setupS), Seq(firstS), backlog.length, 0L, got, backlog.length / ((last - startNs) / 1e9),
        latMs, Seq.empty, Seq.empty, cpuNs, genCpuNs + Stats.threadCpuNs() - c1, prog,
        0L, 0L, ordered.length, errors)
    }
    val ms = runs.takeRight(MeasuredBacklogs)
    Run(runs.flatMap(_.setupS), runs.flatMap(_.firstS), runs.map(_.attempted).sum, 0L, ms.map(_.samples).sum,
      Stats.median(ms.map(_.throughput)), ms.flatMap(_.latMs), Seq.empty, Seq.empty, ms.map(_.cpuNs).sum,
      runs.map(_.genCpuNs).sum, ms.flatMap(_.progress), 0L, 0L, ms.map(_.posts).sum,
      runs.flatMap(_.errors))
  }
}

/** Checks run after the timed part, so they may use every core. */
object Par {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
    val t = new Thread(r, "check"); t.setDaemon(true); t
  })
  def map[A, B](xs: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    val n = math.max(1, (xs.length + 3) / 4)
    xs.grouped(n).toVector
      .map(part => pool.submit(() => part.map(f)))
      .flatMap(_.get())
  }
}

/** The checks the rounds and the self-test share. */
object Check {
  type Series = Vector[(Vector[(String, String)], Vector[(Double, Long)])]

  /** Every message key is the benchmark's own key of its sample. */
  def keys(msgs: Seq[(String, Sample)], where: String): Seq[String] = msgs.collect {
    case (k, s) if k != Wire.seriesKey(s.labels, s.tenant) =>
      s"$where: key $k for a series whose key is ${Wire.seriesKey(s.labels, s.tenant)}"
  }

  /** remote_write POSTs (tenant header, decoded body) in arrival order
    * against the backlog: at most `batch` samples each, one sample per
    * series, labels sorted by name, each POST's samples from its header's
    * tenant, nothing lost or repeated, per-series order kept.
    */
  def posts(backlog: Seq[Sample], posts: Seq[(String, Series)], batch: Int, where: String): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val got = ArrayBuffer.empty[Sample]
    posts.foreach { case (tenant, ser) =>
      val n = ser.map(_._2.length).sum
      if (n > batch) errs += s"$where: a POST carried $n samples, batch size is $batch"
      ser.foreach { case (labels, samples) =>
        if (labels != Wire.sortLabels(labels)) errs += s"$where: labels not sorted by name: $labels"
        if (samples.length != 1) errs += s"$where: a series with ${samples.length} samples"
        samples.foreach { case (v, t) => got += Sample(tenant, Wire.sortLabels(labels), t, v) }
      }
    }
    errs ++= multiset(backlog, got.toSeq, where)
    errs ++= seriesOrder(backlog, got.toSeq, where)
    errs.toSeq
  }

  def multiset(want: Seq[Sample], got: Seq[Sample], where: String): Seq[String] = {
    val counts = mutable.HashMap.empty[String, Int]
    want.foreach(s => counts(s.canon) = counts.getOrElse(s.canon, 0) + 1)
    val errs = ArrayBuffer.empty[String]
    got.foreach { s =>
      counts.get(s.canon) match {
        case Some(1) => counts.remove(s.canon)
        case Some(k) => counts(s.canon) = k - 1
        case None => errs += s"$where: unexpected or duplicated sample (tenant ${s.tenant}) ${s.canon}"
      }
    }
    if (counts.nonEmpty) errs += s"$where: ${counts.values.sum} samples never delivered"
    errs.toSeq
  }

  /** Per series, delivered timestamps come in backlog order. */
  def seriesOrder(want: Seq[Sample], got: Seq[Sample], where: String): Seq[String] = {
    val wantTs = want.groupBy(_.seriesId).map { case (k, v) => k -> v.map(_.ts) }
    got.groupBy(_.seriesId).collect {
      case (k, v) if wantTs.get(k).exists(w => w.length == v.length && w != v.map(_.ts)) =>
        s"$where: series $k delivered out of order"
    }.toSeq
  }
}

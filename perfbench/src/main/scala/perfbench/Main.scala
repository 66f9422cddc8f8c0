package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

/** What every part of one run shares. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double, trace: Boolean,
    val work: Path, val dataDir: String, val queryList: Seq[String]) {
  val tracer = new Tracer(trace)
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Set-up 0 is timed from process start, less `prepS` the benchmark spent
    * making the set-up's inputs; later ones from `t0`, after the previous
    * set-up's session was stopped and its inputs were made.
    */
  def setupSeconds(round: Int, t0: Long, prepS: Double = 0.0): Double =
    if (round == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 - prepS else (System.nanoTime() - t0) / 1e9

  /** `setup_s` is the median of the restarts that follow set-up 0 in the
    * same process; `cold_setup_s` is set-up 0, from process start.
    */
  def setupMetrics(e2e: Metrics, named: Metrics, setups: Seq[Double]): Unit = {
    e2e("setup_s", "s") = Stats.median(setups.drop(1))
    named("setup_s", "s") = e2e.get("setup_s").get
    named("cold_setup_s", "s") = setups.head
  }
}

/** One workload run. Writes its result as JSON to `--result`; `run.py`
  * prints it. Usage (normally through run.py):
  *
  *   perfbench.Main --workload produce --seed 1 --seconds 12 --trace 0 \
  *     --work <dir> --data <dir> --queries a,b --result <file>
  *   perfbench.Main --self-test
  */
object Main {
  /** Set-ups per run: the cold one and four restarts. */
  val SetUps = 5
  /** An open loop later than this at p99 (almost four request periods)
    * did not hold its schedule.
    */
  val MaxLateMs = 150.0

  def main(args: Array[String]): Unit = {
    if (args.contains("--self-test")) { SelfTest.run(); sys.exit(0) }
    def flag(n: String, d: String = ""): String = {
      val i = args.indexOf(s"--$n"); if (i >= 0 && i + 1 < args.length) args(i + 1) else d
    }
    val trace = flag("trace", "0") == "1"
    val seconds = flag("seconds")
    require(seconds.nonEmpty, "--seconds is required")
    val ctx = new Ctx(flag("workload"), flag("seed", "1").toLong, seconds.toDouble, trace,
      Paths.get(flag("work")), flag("data"), flag("queries").split(",").toSeq.filter(_.nonEmpty))
    val result = Paths.get(flag("result"))
    // task counters for the traced run come from Spark's listener bus
    if (trace) System.setProperty("spark.extraListeners", classOf[TaskStats].getName)
    val out = try run(ctx) catch {
      case t: Throwable =>
        t.printStackTrace()
        Files.writeString(result, s"""{"fatal":${Json.str(t.toString)}}""")
        sys.exit(1)
    }
    Files.writeString(result, out)
    sys.exit(0)
  }

  private def run(ctx: Ctx): String = {
    val e2e = new Metrics   // the end-to-end metrics BENCHMARK.json names
    val named = new Metrics // the same run in the terms of each workload
    val layers = new Metrics
    val host = new Metrics
    val errors = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var genThreads = 0 // load threads, the broker watcher included
    var genConns = 0
    val tr = ctx.tracer
    val t0 = System.nanoTime()

    def pcts(prefix: String, unit: String, xs: Seq[Double], ps: Seq[Int]): Unit =
      ps.foreach(p => named(s"${prefix}_p$p", unit) = Stats.pct(xs, p / 100.0))

    ctx.workload match {
      case w @ ("produce" | "produce-wal") =>
        val wal = w == "produce-wal"
        val r = Bridge.produce(ctx, wal, SetUps, ctx.seconds)
        val wall = (System.nanoTime() - t0) / 1e9
        attempted = r.attempted; failed = r.failed; errors ++= r.errors
        genConns = if (wal) Bridge.WalConns else Bridge.Senders
        genThreads = genConns + 1
        val cpuUs = r.cpuNs / 1e3 / r.samples
        ctx.setupMetrics(e2e, named, r.setupS)
        e2e("throughput_per_s", "1/s") = r.throughput
        e2e("cpu_us_per_op", "us") = cpuUs
        named("first_s", "s") = Stats.median(r.firstS)
        if (wal) named("requests_per_s", "req/s") = r.throughput
        else {
          named("samples_per_s", "samples/s") = r.throughput
          pcts("land_ms", "ms", r.latMs, Seq(50, 90))
        }
        pcts("post_ms", "ms", r.postMs, if (wal) Seq(50, 90, 99) else Seq(50, 90))
        named("cpu_us_per_sample", "us") = cpuUs
        named("timed_requests", "count") = r.postMs.length.toDouble
        val lateP99 = if (r.lateMs.isEmpty) 0.0 else Stats.pct(r.lateMs, 0.99)
        layers("gen.late_ms_p99", "ms") = lateP99
        layers("gen.cpu_s", "s") = r.genCpuNs / 1e9
        // an open loop that fell behind its schedule measured another load
        if (lateP99 > MaxLateMs) errors += f"invalid run: the open-loop generator ran $lateP99%.1f ms late at p99"
        if (ctx.tracer.enabled) {
          Probes.tasks(layers, wall)
          Probes.engine(layers, r.progress)
          layers("streaming.keyed.messages", "count") = r.keyedMessages.toDouble
          layers("streaming.keyed.bytes_per_sample", "B") = r.keyedBytes.toDouble / r.keyedMessages
          probes(ctx, layers, Set("engine", "keyed"))
        }

      case "consume" =>
        val r = Bridge.consume(ctx, SetUps)
        val wall = (System.nanoTime() - t0) / 1e9
        attempted = r.attempted; failed = r.failed; errors ++= r.errors
        genThreads = 1; genConns = 0
        val cpuUs = r.cpuNs / 1e3 / r.samples
        ctx.setupMetrics(e2e, named, r.setupS)
        e2e("throughput_per_s", "1/s") = r.throughput
        e2e("cpu_us_per_op", "us") = cpuUs
        named("first_s", "s") = Stats.median(r.firstS)
        named("samples_per_s", "samples/s") = r.throughput
        pcts("deliver_ms", "ms", r.latMs, Seq(50, 90, 99))
        named("cpu_us_per_sample", "us") = cpuUs
        layers("gen.late_ms_p99", "ms") = 0.0
        layers("gen.cpu_s", "s") = r.genCpuNs / 1e9
        if (ctx.tracer.enabled) {
          Probes.tasks(layers, wall)
          Probes.engine(layers, r.progress)
          layers("streaming.sink.posts", "count") = r.posts.toDouble
          layers("streaming.sink.samples_per_post", "samples") = r.samples.toDouble / r.posts
          probes(ctx, layers, Set("engine", "sink"))
        }

      case "inventory" =>
        require(ctx.queryList.nonEmpty && ctx.dataDir.nonEmpty, "inventory needs --queries and --data")
        val setups = (0 until SetUps).map { k =>
          if (k > 0) Bridge.stopSession()
          val s0 = System.nanoTime()
          tr("app.setup") { Inventory.setUp() }
          ctx.setupSeconds(k, s0)
        }
        val spark = org.apache.spark.sql.SparkSession.active
        val execs = ArrayBuffer.empty[Inventory.Exec]
        val cpuByPass = ArrayBuffer.empty[Long]
        def pass(p: Int): Unit = {
          val c0 = Stats.processCpuNs()
          ctx.queryList.foreach { name =>
            attempted += 1
            graft.sources.Caches.release(spark)
            val outDir = ctx.work.resolve("out").resolve(name)
            val out = outDir.toString
            // a stale result of an earlier pass must not pass the oracle check
            deleteTree(outDir)
            try {
              if (ctx.tracer.enabled) execs += Inventory.runSplit(spark, name, ctx.dataDir, out, p, tr)
              else {
                val q0 = System.nanoTime()
                Inventory.runApp(name, ctx.dataDir, out)
                execs += Inventory.Exec(name, p, (System.nanoTime() - q0) / 1e9, 0, 0, 0, 0, 0, 0, 0, 0)
              }
            } catch {
              case e: Throwable =>
                failed += 1
                errors += s"$name (pass $p) failed: $e"
            }
          }
          graft.sources.Caches.release(spark)
          cpuByPass += Stats.processCpuNs() - c0
        }
        // the first pass is cold; steady passes follow until --seconds have
        // passed since they began, and at least one runs
        tr("queries.pass") { pass(0) }
        val s0 = System.nanoTime()
        var p = 1
        while (p < 2 || System.nanoTime() - s0 < ctx.seconds * 1e9) { tr("queries.pass") { pass(p) }; p += 1 }
        val wall = (System.nanoTime() - t0) / 1e9
        val first = execs.filter(_.pass == 0)
        // a query's steady time is its fastest steady pass: a stall of the
        // host in one pass does not count against the program
        val perQuery = execs.filter(_.pass > 0).groupBy(_.name).map { case (n, v) => n -> v.map(_.totalS).min }
        val steadyS = perQuery.values.sum
        val firstS = first.map(_.totalS).sum
        val cpuUs = cpuByPass.drop(1).sum / 1e3 / execs.count(_.pass > 0)
        ctx.setupMetrics(e2e, named, setups)
        e2e("throughput_per_s", "1/s") = perQuery.size / steadyS
        e2e("cpu_us_per_op", "us") = cpuUs
        named("first_run_s", "s") = firstS
        named("steady_s", "s") = steadyS
        pcts("query_ms", "ms", perQuery.values.map(_ * 1e3).toSeq, Seq(50, 90))
        named("steady_passes", "count") = (p - 1).toDouble
        layers("gen.late_ms_p99", "ms") = 0.0
        layers("gen.cpu_s", "s") = 0.0
        writeQueries(ctx, execs.toSeq)
        if (ctx.tracer.enabled) {
          Probes.tasks(layers, wall)
          Probes.queries(layers, execs.toSeq)
          probes(ctx, layers, Set.empty)
        }

      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    // host readings come after the workload, so set-up is timed without them
    host("host.calib_s", "s") = Stats.calib()
    host("host.fsync_per_s", "1/s") = Stats.fsyncPerSec(ctx.work)
    e2e("rss_peak_mb", "MB") = Stats.rssPeakMb()
    named("rss_peak_mb", "MB") = e2e.get("rss_peak_mb").get
    val wallS = (System.nanoTime() - t0) / 1e9
    layers ++= host
    if (ctx.queryList.nonEmpty) Files.writeString(ctx.work.resolve("oracle.json"), ctx.queryList.map { n =>
      s"${Json.str(n)}:${Json.str(graft.SparkEntry.oracleSql.getOrElse(n, sys.error(s"no oracle for $n")))}"
    }.mkString("{", ",", "}"))
    if (ctx.tracer.enabled) {
      tr.write(ctx.work.resolve("spans.jsonl"))
      val self = tr.selfSeconds
      Files.writeString(ctx.work.resolve("self_time.json"),
        self.toSeq.sorted.map { case (k, (sum, covered)) =>
          s""""$k":{"self_s":$sum,"covered_s":$covered,"covered_share_of_wall":${covered / wallS}}"""
        }
          .mkString(s"""{"wall_s":$wallS,""", ",", "}"))
    }
    val gen = s"""{"threads":$genThreads,"connections":$genConns}"""
    s"""{"correct":${errors.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${e2e.json},"per_layer":${layers.json},"named":${named.json},""" +
      s""""host":${host.json},"generator":$gen,"errors":[${errors.map(Json.str).mkString(",")}]}"""
  }

  /** The traced run's layer probes, on a session App builds for them. */
  private def probes(ctx: Ctx, layers: Metrics, measured: Set[String]): Unit = {
    val spark = if (org.apache.spark.sql.SparkSession.getDefaultSession.isDefined)
      org.apache.spark.sql.SparkSession.active else Inventory.setUp()
    Probes.bridgeLayers(ctx, spark, layers, measured)
    if (ctx.workload != "inventory" && ctx.queryList.nonEmpty) {
      val execs = (0 to 1).flatMap(p => ctx.queryList.map { n =>
        graft.sources.Caches.release(spark)
        Inventory.runSplit(spark, n, ctx.dataDir, ctx.work.resolve("out").resolve(n).toString, p, ctx.tracer)
      })
      Probes.queries(layers, execs)
      writeQueries(ctx, execs)
    }
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }

  /** Every query execution of the run, one JSON object each. */
  private def writeQueries(ctx: Ctx, execs: Seq[Inventory.Exec]): Unit =
    Files.writeString(ctx.work.resolve("queries.json"),
      execs.map(e => s"""{"name":"${e.name}","pass":${e.pass},"total_s":${e.totalS},"build_s":${e.buildS},"plan_s":${e.planS},"exec_s":${e.execS},"eager_jobs":${e.eagerJobs},"exchanges":${e.exchanges},"shuffle_bytes":${e.shuffleBytes},"spill_bytes":${e.spillBytes},"broadcast_bytes":${e.broadcastBytes}}""")
        .mkString("[", ",\n", "]"))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
}

package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.functions.PromKernel
import graft.model.Model
import graft.operators.PromPipeline
import graft.sources.HttpRemoteWriteSource
import graft.streaming.{RemoteWriteSink, TenantBatcher}

/** Per-layer numbers for the traced run. Each probe times calls into one
  * module's public functions from here, on inputs shaped like the
  * workloads'; nothing inside the program is instrumented.
  */
object Probes {

  /** Runs `f` once to warm up, then until at least `minS` seconds have
    * passed and at least twice; returns the median seconds per pass.
    */
  private def perPass(minS: Double)(f: => Unit): Double = {
    f // warm-up
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (times.length < 2 || System.nanoTime() - t0 < minS * 1e9) {
      val s = System.nanoTime(); f; times += (System.nanoTime() - s) / 1e9
    }
    Stats.median(times.toSeq)
  }

  def engine(m: Metrics, progs: Seq[StreamingQueryProgress]): Unit = {
    val data = progs.filter(_.numInputRows > 0)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(k: String): Seq[Double] = data.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    m("engine.triggers", "count") = data.size.toDouble
    m("engine.trigger_rows_p50", "rows") = med(data.map(_.numInputRows.toDouble))
    m("engine.trigger_ms_p50", "ms") = med(dur("triggerExecution"))
    m("engine.latest_offset_ms_p50", "ms") = med(dur("latestOffset"))
    m("engine.planning_ms_p50", "ms") = med(dur("queryPlanning"))
    m("engine.add_batch_ms_p50", "ms") = med(dur("addBatch"))
    m("engine.offset_log_ms_p50", "ms") = med(dur("walCommit").zip(dur("commitOffsets")).map { case (a, b) => a + b })
  }

  def state(m: Metrics, progs: Seq[StreamingQueryProgress]): Unit = {
    val ops = progs.flatMap(_.stateOperators.toSeq)
    m("streaming.state_rows_peak", "rows") = ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
    m("streaming.state_bytes_peak", "B") = ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0)
    m("streaming.state_commit_ms_p50", "ms") =
      if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.commitTimeMs.toDouble))
  }

  def tasks(m: Metrics, wallS: Double): Unit = TaskStats.synchronized {
    m("engine.input_partitions_max", "count") = TaskStats.firstStageTasksMax.toDouble
    m("engine.busy_cores", "cores") = TaskStats.runMs / 1e3 / wallS
    m("engine.task_cpu_s", "s") = TaskStats.cpuNs / 1e9
    m("engine.gc_s", "s") = TaskStats.gcMs / 1e3
    m("engine.shuffle_write_bytes", "B") = TaskStats.shuffleWrite.toDouble
    m("engine.spill_bytes", "B") = TaskStats.spill.toDouble
  }

  def queries(m: Metrics, execs: Seq[Inventory.Exec]): Unit = {
    val first = execs.filter(_.pass == 0); val steady = execs.filter(_.pass > 0)
    val steadyExec = steady.groupBy(_.name).values.map(v => Stats.median(v.map(_.execS))).sum
    m("queries.build_s", "s") = first.map(_.buildS).sum
    m("queries.plan_s", "s") = first.map(_.planS).sum
    m("queries.exec_first_s", "s") = first.map(_.execS).sum
    m("queries.exec_steady_s", "s") = steadyExec
    m("queries.eager_jobs", "count") = first.map(_.eagerJobs).sum.toDouble
    m("queries.exchanges", "count") = first.map(_.exchanges).sum.toDouble
    m("queries.shuffle_bytes", "B") = first.map(_.shuffleBytes).sum.toDouble
    m("queries.spill_bytes", "B") = first.map(_.spillBytes).sum.toDouble
    m("queries.broadcast_bytes", "B") = first.map(_.broadcastBytes).sum.toDouble
  }

  /** The layer probes every traced run makes, whatever its workload. */
  def bridgeLayers(ctx: Ctx, spark: SparkSession, m: Metrics, skip: Set[String]): Unit = {
    val tr = ctx.tracer
    def step(s: String): Unit = System.err.println(s"[perfbench] probe: $s")
    val gen = new Gen(ctx.seed, 900)
    val base = 1700000000000L
    val prodReqs = Vector.fill(40)(gen.request(Bridge.Tenants, Bridge.ProduceSeries))
    val prodBodies = prodReqs.zipWithIndex.map { case (r, i) => r.body(base + i) }
    val walBodies = Vector.tabulate(200)(i => gen.request(Bridge.Tenants, Bridge.WalSeries).body(base + i))
    val raws = prodBodies.map(PromKernel.snappyUncompress)
    val kSamples = prodReqs.length * Bridge.ProduceSeries / 1000.0

    step("sources: a bare receiver")
    // sources: a bare receiver, no query behind it
    def receiverPass(walDir: String, bodies: Seq[Array[Byte]]): (Seq[Double], HttpRemoteWriteSource.Receiver) = {
      val port = Wire.freePort()
      val r = HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = walDir)
      val c = new Wire.Conn(port)
      try {
        val us = bodies.map { b =>
          val t0 = System.nanoTime()
          val code = tr("sources.receiver.post") { Bridge.post(c, "tenant-00", b) }
          require(code == 200, s"bare receiver answered $code")
          (System.nanoTime() - t0) / 1e3
        }
        (us, r)
      } finally c.close()
    }
    val (_, r0) = receiverPass("", prodBodies.take(10)); r0.commit(r0.latest)
    HttpRemoteWriteSource.shutdown(r0.boundPort)
    val (acceptUs, r1) = receiverPass("", prodBodies); r1.commit(r1.latest)
    HttpRemoteWriteSource.shutdown(r1.boundPort)
    m("sources.receiver.accept_us_p50", "us") = Stats.median(acceptUs)
    m("sources.receiver.validate_us_per_req", "us") = tr("sources.receiver.validate") {
      perPass(0.3) { prodBodies.foreach(b => PromKernel.decodeWriteRequest(PromKernel.snappyUncompress(b))) }
    } * 1e6 / prodBodies.length

    val walDir = ctx.work.resolve("wal-probe")
    val (walUs, rw) = receiverPass(walDir.toString, walBodies)
    val walBytes = java.nio.file.Files.walk(walDir).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size(_)).sum
    val tc = System.nanoTime()
    tr("sources.wal.commit") { rw.commit(rw.latest) }
    m("sources.wal.accept_us_p50", "us") = Stats.median(walUs)
    m("sources.wal.commit_ms", "ms") = (System.nanoTime() - tc) / 1e6
    m("sources.wal.bytes_per_req", "B") = walBytes.toDouble / walBodies.length
    HttpRemoteWriteSource.shutdown(rw.boundPort)

    step("functions")
    // functions
    m("functions.decode_us_per_ksample", "us") = tr("functions.decode") {
      perPass(0.3) { raws.foreach(PromKernel.decodeWriteRequest) }
    } * 1e6 / kSamples
    val batches = prodReqs.take(10).flatMap { r =>
      r.series.grouped(Bridge.BatchSize).map(g => g.map { case (l, v) => Model.Sample(base, v, l.toMap, r.tenant) })
    }
    m("functions.encode_us_per_batch", "us") = tr("functions.encode") {
      perPass(0.3) { batches.foreach(b => RemoteWriteSink.encodeBody(b)) }
    } * 1e6 / batches.length

    step("operators: the produce")
    // operators: the produce stages as one batch DataFrame, to the noop sink
    import spark.implicits._
    val bodiesDf = prodReqs.zip(prodBodies).map { case (r, b) => (b, null: String, r.tenant) }
      .toDF("body", "basicAuthUser", "orgIdHeader").cache()
    bodiesDf.count()
    val serialized = PromPipeline.serialize(PromPipeline.attachTenant(PromPipeline.explodeWriteRequest(
      PromPipeline.decodeBody(bodiesDf, col("body")).filter(col("timeseries").isNotNull), col("timeseries")),
      col("basicAuthUser"), col("orgIdHeader")), "json")
      .select(col("key"), col("payload").cast("binary").as("payload"))
    m("operators.produce_us_per_ksample", "us") = tr("operators.produce") {
      perPass(0.5) { serialized.write.format("noop").mode("overwrite").save() }
    } * 1e6 / kSamples
    if (!skip("keyed")) {
      val row = serialized.agg(count(lit(1)), sum(length(col("key")) + length(col("payload")))).head()
      m("streaming.keyed.messages", "count") = row.getLong(0).toDouble
      m("streaming.keyed.bytes_per_sample", "B") = row.getLong(1).toDouble / row.getLong(0)
    }
    bodiesDf.unpersist()
    val backlog = gen.backlog(20000, 20, 0.4, Bridge.BatchSize, base)
    val payloads = backlog.map(s => new String(Wire.jsonPayload(s), "UTF-8")).toDF("payload").cache()
    payloads.count()
    val deser = PromPipeline.deserialize(payloads, 0, col("payload")).filter(col("sample").isNotNull).select("sample.*")
    m("operators.deserialize_us_per_ksample", "us") = tr("operators.deserialize") {
      perPass(0.5) { deser.write.format("noop").mode("overwrite").save() }
    } * 1e6 / (backlog.length / 1000.0)
    payloads.unpersist()

    step("streaming: TenantBatcher alone")
    // streaming: TenantBatcher alone, over a MemoryStream, on App consume's
    // 100 ms trigger; processing-time timeouts keep scheduling batches, so
    // completion is polled from the emitted sizes
    val emitted = new java.util.concurrent.atomic.AtomicLong(0L)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Model.Sample](spark)
    val q = TenantBatcher(ms.toDS(), TenantBatcher.Config(Bridge.BatchSize, 5000L))
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[TenantBatcher.Batch], _: Long) =>
        emitted.addAndGet(ds.toDF().agg(coalesce(sum(col("size")), lit(0L))).head().getLong(0))
        ()
      }.start()
    // a tenant's last partial batch stays in state until its 5 s deadline,
    // so the state metrics see the buffered rows
    val batcherIn = backlog.dropRight(Bridge.BatchSize / 2)
    val fullBatches = batcherIn.groupBy(_.tenant).values.map(_.length / Bridge.BatchSize * Bridge.BatchSize).sum.toLong
    try {
      val t0 = System.nanoTime()
      ms.addData(batcherIn.map(s => Model.Sample(s.ts, s.value, s.labels.toMap, s.tenant)))
      tr("streaming.batcher") {
        val deadline = t0 + 60e9.toLong
        while (emitted.get() < fullBatches && System.nanoTime() < deadline) Thread.sleep(1)
      }
      require(emitted.get() == fullBatches, s"TenantBatcher emitted ${emitted.get()} of $fullBatches samples")
      m("streaming.batcher.samples_per_s", "samples/s") = fullBatches / ((System.nanoTime() - t0) / 1e9)
      val progs = Bridge.awaitProgress(q)
      state(m, progs)
      if (!skip("engine")) engine(m, progs)
    } finally q.stop()

    step("streaming: RemoteWriteSink.deliver")
    // streaming: RemoteWriteSink.deliver to the benchmark's endpoint
    val ep = new Wire.Endpoint(1)
    try {
      val client = new RemoteWriteSink.HttpClient(ep.url)
      val bs = batches.map(b => TenantBatcher.Batch(b.head.tenantId, b, b.size, "size"))
      RemoteWriteSink.deliver(client)(bs.take(3).iterator)
      val t0 = System.nanoTime()
      tr("streaming.sink.deliver") { RemoteWriteSink.deliver(client)(bs.iterator) }
      m("streaming.sink.deliver_ms_per_batch", "ms") = (System.nanoTime() - t0) / 1e6 / bs.length
      if (!skip("sink")) {
        m("streaming.sink.posts", "count") = bs.length.toDouble
        m("streaming.sink.samples_per_post", "samples") = bs.map(_.size).sum.toDouble / bs.length
      }
    } finally ep.stop()
  }
}

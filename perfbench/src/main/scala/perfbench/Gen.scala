package perfbench

import java.util.SplittableRandom

import perfbench.Wire.Sample

/** Seeded inputs. The same seed gives the same label sets, tenants and
  * values; only timestamps of the open-loop phase follow the wall clock
  * (each sample carries its request's due time).
  */
final class Gen(seed: Long, stream: Long) {
  private val rng = new SplittableRandom(seed * 1000003L + stream)

  private val metrics: Vector[(String, SplittableRandom => Seq[(String, String)])] = Vector(
    "node_cpu_seconds_total" -> (r => Seq("cpu" -> r.nextInt(16).toString,
      "mode" -> Gen.pick(r, Vector("idle", "user", "system", "iowait", "irq", "steal")))),
    "node_memory_MemAvailable_bytes" -> (_ => Nil),
    "node_network_receive_bytes_total" -> (r => Seq("device" -> Gen.pick(r, Vector("eth0", "eth1", "lo", "bond0")))),
    "node_network_transmit_errs_total" -> (r => Seq("device" -> Gen.pick(r, Vector("eth0", "eth1", "lo", "bond0")))),
    "node_filesystem_avail_bytes" -> (r => Seq(
      "device" -> Gen.pick(r, Vector("/dev/sda1", "/dev/sdb1", "/dev/nvme0n1p2", "tmpfs")),
      "fstype" -> Gen.pick(r, Vector("ext4", "xfs", "tmpfs")),
      "mountpoint" -> Gen.pick(r, Vector("/", "/var", "/home", "/run")))),
    "node_disk_io_time_seconds_total" -> (r => Seq("device" -> Gen.pick(r, Vector("sda", "sdb", "nvme0n1")))),
    "node_load1" -> (_ => Nil),
    "node_context_switches_total" -> (_ => Nil))

  /** A node-exporter-like label set with 6 to 11 labels (11 in about 1 % of
    * series); about a third of the series carry an HA `__replica__` label,
    * which the key excludes.
    */
  def labels(): Vector[(String, String)] = {
    val (name, extra) = Gen.pick(rng, metrics)
    val base = Seq(
      "__name__" -> name,
      "job" -> "node_exporter",
      "instance" -> s"10.${rng.nextInt(4)}.${rng.nextInt(32)}.${rng.nextInt(250)}:9100",
      "cluster" -> s"cluster-${rng.nextInt(6)}",
      "env" -> Gen.pick(rng, Vector("prod", "staging", "dev")),
      "region" -> Gen.pick(rng, Vector("eu-west-1", "us-east-1", "ap-south-1")))
    val replica = if (rng.nextInt(3) == 0) Seq("__replica__" -> s"replica-${rng.nextInt(2)}") else Nil
    val team = if (rng.nextInt(4) == 0) Seq("team" -> s"team-${rng.nextInt(9)}") else Nil
    Wire.sortLabels(base ++ extra(rng) ++ replica ++ team)
  }

  /** Mostly finite values with two decimals; about 1 in 200 is +Inf and
    * 1 in 200 is NaN.
    */
  def value(): Double = rng.nextInt(200) match {
    case 0 => Double.PositiveInfinity
    case 1 => Double.NaN
    case _ => rng.nextLong(100000000000L) / 100.0
  }

  /** One remote_write request: one tenant, `series` single-sample series
    * whose timestamp is filled in when the request is due.
    */
  def request(tenants: Int, series: Int): Gen.Req =
    Gen.Req(Gen.tenant(rng.nextInt(tenants)), Vector.fill(series)(labels() -> value()))

  /** The consume backlog: `total` samples over `tenants` tenants, tenant 0
    * carrying `bigShare` of them and the others fixed weights 1 to 8; every
    * tenant's count is a multiple of `batch`. Each tenant has a fixed set of
    * series that repeat with rising timestamps, interleaved across tenants
    * in a seeded order. The tenant sizes do not depend on the seed: with
    * seeded sizes the drain rate moved up to 2x from one seed to another.
    */
  def backlog(total: Int, tenants: Int, bigShare: Double, batch: Int, baseTs: Long): Vector[Sample] = {
    val batches = total / batch
    val big = math.round(batches * bigShare).toInt
    val rest = batches - big
    val weights = Array.tabulate(tenants - 1)(i => 1.0 + (i * 5) % 8)
    val counts = Array.fill(tenants)(0)
    counts(0) = big
    // every small tenant gets one batch, the remainder is spread by weight
    (1 until tenants).foreach(i => counts(i) = 1)
    var left = rest - (tenants - 1)
    val wsum = weights.sum
    (1 until tenants).foreach { i =>
      val extra = math.floor(left.toDouble * weights(i - 1) / wsum).toInt
      counts(i) += extra
    }
    left = batches - counts.sum
    var i = 1
    while (left > 0) { counts(i) += 1; left -= 1; i = if (i + 1 < tenants) i + 1 else 1 }
    val perTenant = counts.zipWithIndex.map { case (c, t) =>
      val n = c * batch
      val nSeries = math.max(1, math.min(64, n / 8))
      val series = Vector.fill(nSeries)(labels())
      val tenant = Gen.tenant(t)
      Vector.tabulate(n)(k => Sample(tenant, series(k % nSeries), baseTs + (k / nSeries) * 1000L, value()))
    }
    // seeded interleave: per-tenant order (and so per-series order) is kept
    val pos = Array.fill(tenants)(0)
    val out = Vector.newBuilder[Sample]
    var remaining = perTenant.map(_.length).sum
    while (remaining > 0) {
      var t = rng.nextInt(tenants)
      while (pos(t) >= perTenant(t).length) t = (t + 1) % tenants
      out += perTenant(t)(pos(t)); pos(t) += 1; remaining -= 1
    }
    out.result()
  }
}

object Gen {
  final case class Req(tenant: String, series: Vector[(Vector[(String, String)], Double)]) {
    def body(ts: Long): Array[Byte] =
      Wire.snappy(Wire.encodeWriteRequest(series.map { case (l, v) => (l, Seq(v -> ts)) }))
    def samples(ts: Long): Iterator[Sample] = series.iterator.map { case (l, v) => Sample(tenant, l, ts, v) }
  }

  def tenant(i: Int): String = "tenant-%02d".format(i)

  def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.length))
}

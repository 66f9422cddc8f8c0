package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

/** The benchmark's own codecs. None of them calls the program: the checkers
  * must not share a bug with the code they check.
  */
object Wire {

  /** One single-sample series as the benchmark generated or read it back.
    * `labels` are sorted by name (UTF-8 byte order).
    */
  final case class Sample(tenant: String, labels: Vector[(String, String)], ts: Long, value: Double) {
    /** Canonical text used for multiset comparison; NaN compares by bits. */
    def canon: String = {
      val sb = new java.lang.StringBuilder(128)
      sb.append(tenant).append('\u0001')
      labels.foreach { case (k, v) => sb.append(k).append('\u0002').append(v).append('\u0003') }
      sb.append('\u0001').append(ts).append('\u0001')
        .append(java.lang.Double.doubleToLongBits(value))
      sb.toString
    }
    def seriesId: String = tenant + "\u0001" + labels.map { case (k, v) => k + "=" + v }.mkString(",")
  }

  def compareUtf8(a: String, b: String): Int = {
    val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  def sortLabels(ls: Seq[(String, String)]): Vector[(String, String)] =
    ls.toVector.sortWith((a, b) => compareUtf8(a._1, b._1) < 0)

  // --- series key: Go fnv.New64 (FNV-1, multiply then xor) ------------------

  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  def fnv1(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) { h *= FnvPrime; h ^= (bytes(i) & 0xffL); i += 1 }
    h
  }

  /** The HA replica label, which the series key leaves out. */
  val ReplicaLabel = "__replica__"

  /** Key of a series: sorted non-replica labels, name then value bytes,
    * then the tenant, rendered `hex %016x`.
    */
  def seriesKey(labels: Seq[(String, String)], tenant: String): String = {
    var h = FnvOffset
    sortLabels(labels.filter(_._1 != ReplicaLabel)).foreach { case (k, v) =>
      h = fnv1(h, k.getBytes(UTF_8)); h = fnv1(h, v.getBytes(UTF_8))
    }
    if (tenant != null) h = fnv1(h, tenant.getBytes(UTF_8))
    "hex %016x".format(h)
  }

  // --- prompb ---------------------------------------------------------------

  private final class PbOut {
    val out = new ByteArrayOutputStream(256)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def bytes(field: Int, b: Array[Byte]): Unit = { varint((field << 3) | 2); varint(b.length); out.write(b) }
  }

  /** WriteRequest with one series per (labels, samples) entry. Every field
    * is written, zeros too; a proto3 reader must accept both forms.
    */
  def encodeWriteRequest(series: Seq[(Seq[(String, String)], Seq[(Double, Long)])]): Array[Byte] = {
    val req = new PbOut
    series.foreach { case (labels, samples) =>
      val ts = new PbOut
      labels.foreach { case (k, v) =>
        val l = new PbOut
        l.bytes(1, k.getBytes(UTF_8)); l.bytes(2, v.getBytes(UTF_8))
        ts.bytes(1, l.out.toByteArray)
      }
      samples.foreach { case (value, t) =>
        val s = new PbOut
        s.varint((1 << 3) | 1)
        var bits = java.lang.Double.doubleToRawLongBits(value)
        var i = 0
        while (i < 8) { s.out.write((bits & 0xff).toInt); bits >>>= 8; i += 1 }
        s.varint((2 << 3) | 0); s.varint(t)
        ts.bytes(2, s.out.toByteArray)
      }
      req.bytes(1, ts.out.toByteArray)
    }
    req.out.toByteArray
  }

  private final class PbIn(buf: Array[Byte], var pos: Int, end: Int) {
    def more: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var r = 0L; var b = 0
      do {
        if (pos >= end || shift > 63) throw new IllegalArgumentException("bad varint")
        b = buf(pos); pos += 1
        r |= (b & 0x7fL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      r
    }
    def sub(): PbIn = {
      val n = varint().toInt
      if (n < 0 || pos + n > end) throw new IllegalArgumentException("bad length")
      val s = new PbIn(buf, pos, pos + n); pos += n; s
    }
    def str(): String = { val s = sub(); new String(buf, s.pos, s.end0 - s.pos, UTF_8) }
    def end0: Int = end
    def fixed64(): Long = {
      if (pos + 8 > end) throw new IllegalArgumentException("short fixed64")
      var r = 0L; var i = 0
      while (i < 8) { r |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; r
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => sub()
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }

  /** Series of a WriteRequest: labels in wire order, samples as (value, ts). */
  def decodeWriteRequest(data: Array[Byte]): Vector[(Vector[(String, String)], Vector[(Double, Long)])] = {
    val r = new PbIn(data, 0, data.length)
    val out = Vector.newBuilder[(Vector[(String, String)], Vector[(Double, Long)])]
    while (r.more) {
      val t = r.varint()
      if (t == ((1 << 3) | 2)) {
        val ts = r.sub()
        val labels = Vector.newBuilder[(String, String)]
        val samples = Vector.newBuilder[(Double, Long)]
        while (ts.more) {
          val f = ts.varint()
          if (f == ((1 << 3) | 2)) {
            val l = ts.sub(); var k = ""; var v = ""
            while (l.more) {
              val g = l.varint()
              if (g == ((1 << 3) | 2)) k = l.str()
              else if (g == ((2 << 3) | 2)) v = l.str()
              else l.skip((g & 7).toInt)
            }
            labels += (k -> v)
          } else if (f == ((2 << 3) | 2)) {
            val s = ts.sub(); var value = 0.0; var tsv = 0L
            while (s.more) {
              val g = s.varint()
              if (g == ((1 << 3) | 1)) value = java.lang.Double.longBitsToDouble(s.fixed64())
              else if (g == ((2 << 3) | 0)) tsv = s.varint()
              else s.skip((g & 7).toInt)
            }
            samples += (value -> tsv)
          } else ts.skip((f & 7).toInt)
        }
        out += (labels.result() -> samples.result())
      } else r.skip((t & 7).toInt)
    }
    out.result()
  }

  def snappy(b: Array[Byte]): Array[Byte] = org.xerial.snappy.Snappy.compress(b)
  def unsnappy(b: Array[Byte]): Array[Byte] = org.xerial.snappy.Snappy.uncompress(b)

  // --- broker payloads (the `json` serializer layout) ------------------------

  private val json = new JsonFactory()

  def parseValue(s: String): Double = s match {
    case "NaN" => Double.NaN
    case "+Inf" | "Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case other => other.toDouble
  }

  /** `{"value":[seconds,"v"],"metric":{...},"tenant_id":"t"}` -> Sample. */
  def parseJsonPayload(payload: Array[Byte]): Sample = {
    val p = json.createParser(payload)
    def next(want: JsonToken): Unit =
      if (p.nextToken() != want) throw new IllegalArgumentException(s"expected $want in ${new String(payload, UTF_8)}")
    try {
      var ms = Long.MinValue; var value = Double.NaN; var tenant = ""
      val labels = Vector.newBuilder[(String, String)]
      next(JsonToken.START_OBJECT)
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        p.currentName() match {
          case "value" =>
            next(JsonToken.START_ARRAY)
            p.nextToken(); ms = p.getDecimalValue.movePointRight(3).longValueExact()
            next(JsonToken.VALUE_STRING); value = parseValue(p.getText)
            next(JsonToken.END_ARRAY)
          case "metric" =>
            next(JsonToken.START_OBJECT)
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val k = p.currentName(); next(JsonToken.VALUE_STRING); labels += (k -> p.getText)
            }
          case "tenant_id" => next(JsonToken.VALUE_STRING); tenant = p.getText
          case _ => p.nextToken(); p.skipChildren()
        }
      }
      if (ms == Long.MinValue) throw new IllegalArgumentException(s"no value in ${new String(payload, UTF_8)}")
      Sample(tenant, sortLabels(labels.result()), ms, value)
    } finally p.close()
  }

  def formatValue(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isPosInfinity) "+Inf" else if (d.isNegInfinity) "-Inf"
    else new java.math.BigDecimal(java.lang.Double.toString(d)).stripTrailingZeros().toPlainString

  private def jstr(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** A broker payload in the `json` layout, for the consume backlog. */
  def jsonPayload(s: Sample): Array[Byte] = {
    val sb = new StringBuilder(256)
    sb.append("{\"value\":[")
      .append(java.math.BigDecimal.valueOf(s.ts, 3).toPlainString).append(',')
    jstr(sb, formatValue(s.value))
    sb.append("],\"metric\":{")
    s.labels.zipWithIndex.foreach { case ((k, v), i) =>
      if (i > 0) sb.append(','); jstr(sb, k); sb.append(':'); jstr(sb, v)
    }
    sb.append('}')
    if (s.tenant.nonEmpty) { sb.append(",\"tenant_id\":"); jstr(sb, s.tenant) }
    sb.append('}')
    sb.toString.getBytes(UTF_8)
  }

  // --- HTTP/1.1 client over one kept-alive socket ---------------------------

  /** One connection; calls are sequential (closed loop per connection). */
  final class Conn(port: Int) extends AutoCloseable {
    private var sock: Socket = _
    private var in: InputStream = _
    private var out: OutputStream = _

    private def open(): Unit = {
      sock = new Socket()
      sock.setTcpNoDelay(true)
      sock.connect(new InetSocketAddress("127.0.0.1", port), 2000)
      sock.setSoTimeout(60000)
      in = new BufferedInputStream(sock.getInputStream, 1 << 16)
      out = sock.getOutputStream
    }

    /** Sends one request and returns (status, body). Reconnects once when
      * the server closed an idle connection.
      */
    def call(method: String, path: String, headers: Seq[(String, String)],
        body: Array[Byte]): (Int, Array[Byte]) = {
      if (sock == null) open()
      try exchange(method, path, headers, body)
      catch {
        case _: java.io.IOException =>
          close(); open(); exchange(method, path, headers, body)
      }
    }

    private def exchange(method: String, path: String, headers: Seq[(String, String)],
        body: Array[Byte]): (Int, Array[Byte]) = {
      val sb = new StringBuilder
      sb.append(method).append(' ').append(path).append(" HTTP/1.1\r\nHost: 127.0.0.1\r\n")
      headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
      sb.append("Content-Length: ").append(if (body == null) 0 else body.length).append("\r\n\r\n")
      out.write(sb.toString.getBytes(UTF_8))
      if (body != null) out.write(body)
      out.flush()
      val status = readLine().split(' ')(1).toInt
      var len = -1; var chunked = false; var closeAfter = false
      var line = readLine()
      while (line.nonEmpty) {
        val i = line.indexOf(':')
        val k = line.substring(0, i).trim.toLowerCase; val v = line.substring(i + 1).trim
        if (k == "content-length") len = v.toInt
        else if (k == "transfer-encoding" && v.equalsIgnoreCase("chunked")) chunked = true
        else if (k == "connection" && v.equalsIgnoreCase("close")) closeAfter = true
        line = readLine()
      }
      val data =
        if (chunked) {
          val b = new ByteArrayOutputStream
          var n = Integer.parseInt(readLine().trim, 16)
          while (n > 0) { b.write(in.readNBytes(n)); readLine(); n = Integer.parseInt(readLine().trim, 16) }
          readLine(); b.toByteArray
        } else if (len > 0) in.readNBytes(len) else Array.emptyByteArray
      if (closeAfter) close()
      (status, data)
    }

    private def readLine(): String = {
      val b = new ByteArrayOutputStream(64)
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        if (c != '\r') b.write(c)
        c = in.read()
      }
      new String(b.toByteArray, UTF_8)
    }

    override def close(): Unit = {
      if (sock != null) try sock.close() catch { case _: Exception => () }
      sock = null
    }
  }

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** A remote_write endpoint owned by the benchmark: stores each POST's
    * tenant header, arrival time and raw body, answers 200.
    */
  final case class Post(tenant: String, arrivalNs: Long, body: Array[Byte])

  final class Endpoint(threads: Int) {
    val posts = new java.util.concurrent.ConcurrentLinkedQueue[Post]()
    private val server = com.sun.net.httpserver.HttpServer.create(
      new InetSocketAddress("127.0.0.1", 0), 64)
    private val workers = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "endpoint"); workers.add(t); t
    })
    server.createContext("/api/v1/write", (e: com.sun.net.httpserver.HttpExchange) => {
      try {
        val body = e.getRequestBody.readAllBytes()
        val tenant = Option(e.getRequestHeaders.getFirst("X-Scope-OrgID")).getOrElse("")
        posts.add(Post(tenant, System.nanoTime(), body))
        e.sendResponseHeaders(200, -1)
      } finally e.close()
    })
    server.setExecutor(pool)
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1/write"
    /** CPU time its answering threads have used so far. */
    def cpuNs: Long = workers.asScala.map(Stats.threadCpuNs).sum
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }
}

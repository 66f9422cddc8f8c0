package perfbench

import perfbench.Wire.Sample

/** The checkers against golden vectors and against corrupted outputs. Each
  * corruption must be caught; each golden vector must pass. Exits non-zero
  * on the first case that does not hold.
  */
object SelfTest {
  private var cases = 0
  private def expect(what: String)(ok: Boolean): Unit = {
    cases += 1
    if (!ok) { System.err.println(s"self-test FAILED: $what"); sys.exit(1) }
  }
  private def hex(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def run(): Unit = {
    // FNV-1 64: the published vector for "abc", and the key layout
    expect("fnv1(abc)")(Wire.fnv1(0xcbf29ce484222325L, "abc".getBytes) == 0xd8dcca186bafadcbL)
    expect("key of {a=b} is fnv1(ab)")(Wire.seriesKey(Seq("a" -> "b"), "") ==
      "hex %016x".format(Wire.fnv1(0xcbf29ce484222325L, "ab".getBytes)))
    val ls = Seq("__name__" -> "foo", "labelfoo" -> "label-bar")
    expect("replica label excluded")(
      Wire.seriesKey(ls :+ ("__replica__" -> "a"), "t") == Wire.seriesKey(ls :+ ("__replica__" -> "b"), "t"))
    expect("tenant changes the key")(Wire.seriesKey(ls, "") != Wire.seriesKey(ls, "tenant1"))
    expect("labels change the key")(Wire.seriesKey(ls :+ ("count" -> "1"), "") != Wire.seriesKey(ls :+ ("count" -> "2"), ""))
    expect("label order does not change the key")(Wire.seriesKey(ls.reverse, "x") == Wire.seriesKey(ls, "x"))

    // json serializer golden vectors (FIXTURES.md 2.1)
    val sorted = Wire.sortLabels(ls)
    val golden = Seq(
      """{"value":[0,"456"],"metric":{"__name__":"foo","labelfoo":"label-bar"}}""" -> Sample("", sorted, 0L, 456.0),
      """{"value":[10.001,"+Inf"],"metric":{"__name__":"foo","labelfoo":"label-bar"}}""" ->
        Sample("", sorted, 10001L, Double.PositiveInfinity),
      """{"value":[0,"456"],"metric":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":"fake"}""" ->
        Sample("fake", sorted, 0L, 456.0))
    golden.foreach { case (json, want) =>
      expect(s"parse $json")(Wire.parseJsonPayload(json.getBytes).canon == want.canon)
      expect(s"write then parse $json")(Wire.parseJsonPayload(Wire.jsonPayload(want)).canon == want.canon)
    }
    expect("NaN compares equal to NaN")(Sample("", sorted, 1L, Double.NaN).canon == Sample("", sorted, 1L, 0.0 / 0.0).canon)

    // prompb: a hand-assembled WriteRequest {labels a=b, sample 1.0 @ 2}
    val pb = hex("0a150a060a0161120162120b09000000000000f03f1002")
    expect("decode golden WriteRequest")(Wire.decodeWriteRequest(pb) == Vector(Vector("a" -> "b") -> Vector(1.0 -> 2L)))
    expect("encode golden WriteRequest")(Wire.encodeWriteRequest(Seq(Seq("a" -> "b") -> Seq(1.0 -> 2L))).sameElements(pb))
    // proto3 omits zero fields; the reader must default them
    expect("decode omitted zeros")(Wire.decodeWriteRequest(hex("0a0a0a060a01611201621200")) ==
      Vector(Vector("a" -> "b") -> Vector(0.0 -> 0L)))
    expect("snappy round trip")(Wire.unsnappy(Wire.snappy(pb)).sameElements(pb))

    // produce checks: keys and the posted multiset
    val gen = new Gen(7L, 1L)
    val posted = Vector.fill(3)(gen.request(4, 20)).zipWithIndex.flatMap { case (r, i) => r.samples(100L + i) }
    val msgs = posted.map(s => Wire.seriesKey(s.labels, s.tenant) -> s)
    expect("keys accepted")(Check.keys(msgs, "t").isEmpty)
    expect("multiset accepted")(Check.multiset(posted, msgs.map(_._2), "t").isEmpty)
    expect("wrong key caught")(Check.keys(msgs.updated(3, "hex 0000000000000000" -> msgs(3)._2), "t").nonEmpty)
    expect("dropped sample caught")(Check.multiset(posted, posted.drop(1), "t").nonEmpty)
    expect("duplicated sample caught")(Check.multiset(posted, posted :+ posted(5), "t").nonEmpty)
    expect("altered value caught")(Check.multiset(posted, posted.updated(2, posted(2).copy(value = -1.0)), "t").nonEmpty)

    // consume checks: POSTs of one tenant, batch-sized, sorted labels, in order
    val backlog = gen.backlog(1200, 4, 0.5, 100, 1700000000000L)
    def postsOf(samples: Seq[Sample]): Seq[(String, Check.Series)] =
      samples.groupBy(_.tenant).toSeq.sortBy(_._1).flatMap { case (t, ss) =>
        ss.grouped(100).map(b => t -> b.map(s => s.labels -> Vector(s.value -> s.ts)).toVector)
      }
    val good = postsOf(backlog)
    expect("posts accepted")(Check.posts(backlog, good, 100, "t").isEmpty)
    expect("dropped delivery caught")(Check.posts(backlog, good.updated(0, good(0)._1 -> good(0)._2.tail), 100, "t").nonEmpty)
    expect("duplicated delivery caught")(Check.posts(backlog, good :+ good(1), 100, "t").nonEmpty)
    val other = good.indexWhere(_._1 != good(0)._1)
    val mixed = good.updated(0, good(0)._1 -> (good(0)._2.init :+ good(other)._2.head))
      .updated(other, good(other)._1 -> (good(other)._2.tail :+ good(0)._2.last))
    expect("POST mixing tenants caught")(Check.posts(backlog, mixed, 100, "t").nonEmpty)
    expect("oversized POST caught")(Check.posts(backlog, good, 50, "t").nonEmpty)
    val unsorted = good.updated(0, good(0)._1 -> good(0)._2.updated(0, (good(0)._2(0)._1.reverse, good(0)._2(0)._2)))
    expect("unsorted labels caught")(Check.posts(backlog, unsorted, 100, "t").nonEmpty)
    val series = backlog.groupBy(_.seriesId).find(_._2.length >= 2).get._2
    val (a, b) = (backlog.indexOf(series(0)), backlog.indexOf(series(1)))
    val swapped = backlog.updated(a, series(1)).updated(b, series(0))
    expect("per-series reorder caught")(Check.posts(backlog, postsOf(swapped), 100, "t").nonEmpty)

    println(s"perfbench self-test: $cases cases passed")
  }
}

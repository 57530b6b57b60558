package perfbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import scala.collection.mutable
import graft.bench.YcsbBench.Zipf
import graft.flow.FlowRegistry
import graft.model._
import graft.runtime.local.LocalRuntime
import graft.serving.HttpGateway
import graft.streaming.EventJson

/** Closed-loop HTTP traffic against [[HttpGateway]] over a LocalRuntime:
  * no Spark, so serving, EventJson, the client, the operator and flow
  * stepping do all the work. Each client is one thread with one HTTP/1.1
  * keep-alive connection that sends its next request when the last one is
  * answered. Four clients run for the whole measured phase, after a
  * warm-up with the same clients.
  *
  * Mix: 50% `GET attr/value`, 25% `POST call/update`, 25% `POST
  * call/transfer` of 1, keys zipf(0.99) over 10,000. Transfers move funds
  * among the `t` keys and updates overwrite the `u` keys, so the `t` keys
  * keep their total and every `u` key ends on a value some update wrote.
  */
object Gateway {
  val Keys = 10000
  val Clients = 4
  private val Start = 100
  private val Entity = "YCSBEntity"
  private val WarmSeconds = 6.0
  /** Ops per client in the printed digest of the generated sequence. */
  private val DigestOps = 10000

  /** kind 0 read of `t`/`u` key (`other` 0/1), 1 update of a `u` key to
    * `value`, 2 transfer of 1 from `t` key `key` to `t` key `other`.
    */
  final case class Op(kind: Int, key: Int, other: Int, value: Int) {
    def line: String = s"$kind,$key,$other,$value"
  }

  /** Client `c`'s seeded op stream, drawn as it is sent; update values are
    * unique per (client, op).
    */
  final class Gen(seed: Long, c: Int, keys: Int = Keys) {
    private val zipf = new Zipf(keys, 0.99, seed * 31 + c)
    private val rnd = new scala.util.Random(seed * 131 + c)
    private var i = 0
    def next(): Op = {
      val r = rnd.nextInt(4)
      val op =
        if (r < 2) Op(0, zipf.next(), rnd.nextInt(2), 0)
        else if (r == 2) Op(1, zipf.next(), -1, i * Clients + c + 1000)
        else {
          val a = zipf.next()
          var b = zipf.next()
          while (b == a) b = zipf.next()
          Op(2, a, b, 1)
        }
      i += 1
      op
    }
  }

  /** The first `n` ops of client `c`'s stream. */
  def ops(seed: Long, c: Int, n: Int, keys: Int = Keys): Iterator[Op] = {
    val g = new Gen(seed, c, keys)
    Iterator.fill(n)(g.next())
  }

  private def tKey(i: Int) = s"t$i"
  private def uKey(i: Int) = s"u$i"

  /** A blocking HTTP/1.1 client on one keep-alive connection. The request
    * is written and the response read on the calling thread, so the client
    * adds no threads or hand-offs of its own to the latency it measures.
    */
  final class Conn(port: Int) {
    private val sock = new java.net.Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new java.io.BufferedInputStream(sock.getInputStream, 8192)
    private val out = new java.io.BufferedOutputStream(sock.getOutputStream, 8192)

    /** Send one request; returns the status and the body. */
    def request(method: String, path: String, body: String): (Int, String) = {
      val b = body.getBytes(UTF_8)
      out.write(s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Length: ${b.length}\r\n\r\n"
        .getBytes(ISO_8859_1))
      out.write(b)
      out.flush()
      val status = line().split(' ')(1).toInt
      var len = -1
      var h = line()
      while (h.nonEmpty) {
        if (h.regionMatches(true, 0, "content-length:", 0, 15)) len = h.substring(15).trim.toInt
        h = line()
      }
      require(len >= 0, s"HTTP $status response without Content-Length")
      (status, new String(in.readNBytes(len), UTF_8))
    }

    private def line(): String = {
      val sb = new java.lang.StringBuilder
      var c = in.read()
      while (c != '\n') {
        require(c >= 0, "connection closed by the server")
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }

    def close(): Unit = sock.close()
  }

  /** A growable array of latencies in microseconds, unboxed. */
  final class Samples {
    private var a = new Array[Double](1024)
    var n = 0
    def add(x: Double): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = x
      n += 1
    }
    def toSeq: Seq[Double] = scala.collection.immutable.ArraySeq.unsafeWrapArray(java.util.Arrays.copyOf(a, n))
    def clear(): Unit = { a = new Array[Double](1024); n = 0 }
  }

  /** One client: its connection, op stream and the count of ops sent. */
  final class Client(port: Int, gen: Gen) {
    val conn = new Conn(port)
    var cursor = 0
    val latUs = new Samples
    var non2xx = 0
    var badBody = 0

    def request(op: Op): (Int, String) = op.kind match {
      case 0 =>
        val k = if (op.other == 0) tKey(op.key) else uKey(op.key)
        conn.request("GET", s"/$Entity/$k/attr/value", "")
      case 1 => conn.request("POST", s"/$Entity/${uKey(op.key)}/call/update", s"""{"new_value":${op.value}}""")
      case _ => conn.request("POST", s"/$Entity/${tKey(op.key)}/call/transfer",
        s"""{"transfer_amount":${op.value},"other_entity":{"$$ref":["$Entity","${tKey(op.other)}"]}}""")
    }

    /** Run ops until `untilNs`; record latencies when `measure`. */
    def loop(untilNs: Long, measure: Boolean, tracer: Tracer): Unit =
      while (System.nanoTime() < untilNs) {
        val op = gen.next()
        cursor += 1
        val t0 = System.nanoTime()
        val (status, body) = if (measure) tracer.span("serving.request")(request(op)) else request(op)
        val t1 = System.nanoTime()
        if (measure) {
          latUs.add((t1 - t0) / 1e3)
          if (status / 100 != 2) non2xx += 1
          else if (!body.startsWith("{\"value\":")) badBody += 1
        }
      }
  }

  /** Run the clients for `seconds`; returns the wall time until the last
    * one stopped, in seconds.
    */
  private def runClients(cs: Seq[Client], seconds: Double, measure: Boolean, tracer: Tracer): Double = {
    val t0 = System.nanoTime()
    val until = t0 + (seconds * 1e9).toLong
    val ts = cs.zipWithIndex.map { case (c, i) =>
      val t = new Thread(() => c.loop(until, measure, tracer), s"perfbench-client-$i")
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Start a gateway over a fresh LocalRuntime and create every key through it. */
  private def setup(out: Outcome, tag: String, nKeys: Int): (HttpGateway, LocalRuntime) = {
    val rt = new LocalRuntime(TestEntities.registry)
    val gw = new HttpGateway(TestEntities.registry, rt)
    gw.start()
    val keys = (0 until nKeys).flatMap(i => Seq(tKey(i), uKey(i)))
    val creators = (0 until Clients).map(_ => new Conn(gw.boundPort))
    val bad = new java.util.concurrent.atomic.AtomicInteger()
    val ts = creators.zipWithIndex.map { case (c, j) =>
      val t = new Thread(() => keys.indices.filter(_ % Clients == j).foreach { i =>
        if (c.request("POST", s"/$Entity/create", s"""{"key":"${keys(i)}","value":$Start}""")._1 != 200)
          bad.incrementAndGet()
      })
      t.start(); t
    }
    ts.foreach(_.join())
    creators.foreach(_.close())
    out.check(s"setup $tag creates every key", bad.get == 0, s"${bad.get} creates failed")
    (gw, rt)
  }

  /** @param keys keys per population; smaller only in the smoke test */
  def run(cfg: Main.Config, tracer: Tracer, keys: Int = Keys): Outcome = {
    val out = new Outcome
    TestEntities.registerFlows()
    out.note("op_digest", Json.str(Stats.digest(
      (0 until Clients).iterator.flatMap(c => ops(cfg.seed, c, DigestOps, keys).map(_.line)))))

    val (gw, rt) = Setup.repeated(out, tracer)(r => setup(out, r.toString, keys))(_._1.stop())
    try {
      val clients = (0 until Clients).map(c => new Client(gw.boundPort, new Gen(cfg.seed, c, keys)))
      runClients(clients, WarmSeconds, measure = false, tracer)
      val from = clients.map(_.cursor)
      val wall = tracer.span("phase.measured")(runClients(clients, cfg.seconds, measure = true, tracer))
      clients.foreach(_.conn.close())
      val lat = Stats.summarize(clients.flatMap(_.latUs.toSeq))
      clients.foreach(_.latUs.clear())
      // the latency samples are dropped, so the heap holds the runtime's
      // store and the server, not the benchmark's buffers
      out.setE2e("live_heap_mb", Metrics.liveHeapMb())

      out.setE2e("p50_ms", lat.p50 / 1e3); out.setE2e("p99_ms", lat.tail / 1e3)
      out.setE2e("throughput_ops_s", lat.n / wall)
      out.note("samples", lat.n.toString)
      out.note("tail_level", Json.num(lat.tailLevel))
      out.note("clients", Clients.toString)

      val non2xx = clients.map(_.non2xx).sum
      val badBody = clients.map(_.badBody).sum
      out.attempted = lat.n
      out.failed = non2xx + badBody
      out.setLayer("serving.non2xx", non2xx)
      out.check("every request answered 2xx", non2xx == 0, s"$non2xx non-2xx responses")
      out.check("every reply carries a value", badBody == 0, s"$badBody replies without a value")

      // State checks, read from the runtime's store once traffic stopped;
      // each client's ops are drawn again from its seed.
      val sent = clients.indices.map(c => ops(cfg.seed, c, clients(c).cursor, keys).toArray)
      val value = (k: String) => rt.store.get((Entity, k)).map(_("value"))
      val tVals = (0 until keys).flatMap(i => value(tKey(i))).collect { case v: Int => v.toLong }
      out.check("every t key has a balance", tVals.size == keys, s"${tVals.size} of $keys")
      out.check("funds conserved", tVals.sum == Start.toLong * keys, s"sum ${tVals.sum}")
      out.check("no negative balance", tVals.forall(_ >= 0), s"min ${tVals.minOption}")
      val written = mutable.Map.empty[Int, mutable.Set[Int]]
      for (c <- sent; op <- c if op.kind == 1)
        written.getOrElseUpdate(op.key, mutable.Set(Start)) += op.value
      val badU = (0 until keys).filterNot { i =>
        value(uKey(i)).exists {
          case v: Int => written.get(i).fold(v == Start)(_.contains(v))
          case _ => false
        }
      }
      out.check("every u key holds a value some update wrote", badU.isEmpty,
        s"${badU.size} keys, e.g. ${badU.take(3).map(i => i -> value(uKey(i)))}")

      if (tracer.enabled) {
        val measured = sent.indices.flatMap(c => sent(c).drop(from(c)))
        layerCosts(measured.toArray, keys, out, tracer, lat.p50)
      }
    } finally gw.stop()
    out
  }

  /** Traced run only: the costs under one request, measured by replaying
    * the run's requests outside the server.
    */
  private def layerCosts(ops: Array[Op], keys: Int, out: Outcome, tracer: Tracer, p50Us: Double): Unit = {
    val registry = TestEntities.registry
    val replay = new LocalRuntime(registry)
    (0 until keys).foreach { i =>
      Seq(tKey(i), uKey(i)).foreach(k => replay.send(Event(s"c-$k", Entity, k, EventType.InitClass,
        Payload.CreateArgs(Map("key" -> k, "value" -> Start)))))
    }
    def ref(k: String) = EntityRef(Entity, k)
    def transferArgs(op: Op): Map[String, Any] =
      Map("transfer_amount" -> op.value, "other_entity" -> ref(tKey(op.other)))
    val events = ops.zipWithIndex.map { case (op, i) =>
      op.kind match {
        case 0 =>
          val k = if (op.other == 0) tKey(op.key) else uKey(op.key)
          Event(s"h$i", Entity, k, EventType.GetState, Payload.AttrGet("value"))
        case 1 => Event(s"h$i", Entity, uKey(op.key), EventType.InvokeStateful,
          Payload.MethodCall("update", Map("new_value" -> op.value)))
        case _ => Event(s"h$i", Entity, tKey(op.key), EventType.EventFlow,
          Payload.FlowPayload(FlowRegistry.instantiate(s"$Entity.transfer", ref(tKey(op.key)), transferArgs(op))))
      }
    }
    val handleUs = tracer.span("runtime.replay")(Timing.perItemUs(events)(replay.send))
    out.setLayer("runtime.handle_us_per_op", handleUs)
    val transfers = ops.filter(_.kind == 2)
    out.setLayer("flow.instantiate_us", tracer.span("flow.instantiate") {
      Timing.perItemUs(transfers)(op =>
        FlowRegistry.instantiate(s"$Entity.transfer", ref(tKey(op.key)), transferArgs(op)))
    })
    // The JSON values one request carries: its argument object in, its
    // result value out.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val codecUs = tracer.span("streaming.EventJson.codec")(Timing.perItemUs(ops) { op =>
      val args: Map[String, Any] = op.kind match {
        case 0 => Map.empty
        case 1 => Map("new_value" -> op.value)
        case _ => transferArgs(op)
      }
      val in = EventJson.decodeValue(mapper.readTree(EventJson.encodeValue(args).toString))
      val result: Any = if (op.kind == 0) op.value else if (op.kind == 1) null else true
      (in, EventJson.encodeValue(result).toString)
    })
    out.setLayer("streaming.EventJson.codec_us", codecUs)
    out.setLayer("serving.self_us", p50Us - handleUs - codecUs)
  }
}

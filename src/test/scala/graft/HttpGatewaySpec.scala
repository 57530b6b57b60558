package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TestEntities
import graft.runtime.local.LocalRuntime
import graft.serving.HttpGateway

/** End-to-end HTTP serving over the LocalRuntime — the O35 surface: a
  * real HTTP client (JDK java.net.http) drives every route against a
  * live server socket, mirroring the reference FastAPI client's
  * endpoint behaviors (ping, create, find, method invocation, error
  * paths; stateflow/client/fastapi/fastapi.py:25-147).
  */
class HttpGatewaySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val gateway = new HttpGateway(TestEntities.registry, new LocalRuntime(TestEntities.registry))
  private val http = HttpClient.newHttpClient()
  private def base = s"http://127.0.0.1:${gateway.boundPort}"

  override def beforeAll(): Unit = gateway.start()
  override def afterAll(): Unit = gateway.stop()

  private def get(path: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(path: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  private def put(path: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(base + path))
      .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("ping round-trips through the runtime") {
    val r = get("/ping")
    assert(r.statusCode() === 200, r.body())
    assert(r.body() === """{"pong":true}""")
  }

  test("create -> find -> attr read/write -> invoke, full lifecycle over HTTP") {
    val c = post("/User/create", """{"username":"alice"}""")
    assert(c.statusCode() === 200)
    assert(c.body() === """{"entity":"User","key":"alice"}""")

    assert(get("/User/alice/find").body() === """{"found":true}""")
    assert(get("/User/ghost/find").body() === """{"found":false}""")

    assert(get("/User/alice/attr/balance").body() === """{"value":0}""")

    val call = post("/User/alice/call/update_balance", """{"x":42}""")
    assert(call.statusCode() === 200)
    assert(get("/User/alice/attr/balance").body() === """{"value":42}""")

    assert(put("/User/alice/attr/balance", """{"value":7}""").statusCode() === 200)
    assert(get("/User/alice/attr/balance").body() === """{"value":7}""")
  }

  test("method result values cross the wire (read-only invocation)") {
    post("/ExperimentalB/create", """{"name":"b1"}""")
    post("/ExperimentalB/b1/call/set_balance", """{"balance":10}""")
    val eq = post("/ExperimentalB/b1/call/balance_equal_to", """{"equal_balance":10}""")
    assert(eq.body() === """{"value":true}""")
    val ne = post("/ExperimentalB/b1/call/balance_equal_to", """{"equal_balance":11}""")
    assert(ne.body() === """{"value":false}""")
  }

  test("stateless functions are callable without a key") {
    val r = post("/stateless/echo", """{"msg":"hi"}""")
    assert(r.body() === """{"value":"hi"}""")
    val b = post("/stateless/magnitude_bucket", """{"n":12345}""")
    assert(b.body() === """{"value":4}""")
  }

  test("error mapping: 404 unknown routes/entities/methods, 409 duplicates, 400 bad JSON") {
    assert(post("/Nope/create", """{"x":1}""").statusCode() === 404)
    assert(post("/User/alice/call/no_such_method", "{}").statusCode() === 404)
    assert(get("/no/such/route/at/all").statusCode() === 404)
    assert(post("/stateless/nope", "{}").statusCode() === 404)
    // duplicate create: idempotent-create guard surfaces as 409 (O9)
    post("/Item/create", """{"item_name":"hammer","price":5}""")
    assert(post("/Item/create", """{"item_name":"hammer","price":5}""").statusCode() === 409)
    assert(post("/User/create", """not json at all""").statusCode() === 400)
    assert(post("/User/create", """[1,2,3]""").statusCode() === 400)
  }

  test("entity-valued attributes serialize through the shared wire model") {
    // User.items is a Seq[EntityRef] — the $ref wire form, same as Kafka
    assert(get("/User/alice/attr/items").body() === """{"value":[]}""")
  }
}

/** The threaded-executor gate: many HTTP clients in flight at once,
  * each response correct, every runtime mutation serialized (no lost
  * increments on a shared entity) — the concurrency contract the
  * gateway documents.
  */
class HttpGatewayConcurrencySpec extends AnyFunSuite {

  test("concurrent clients: parallel requests, serialized runtime, no lost updates") {
    val gateway = new HttpGateway(
      TestEntities.registry, new LocalRuntime(TestEntities.registry))
    gateway.start()
    val http = HttpClient.newHttpClient()
    val base = s"http://127.0.0.1:${gateway.boundPort}"
    def get(path: String) =
      http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    def post(path: String, body: String) =
      http.send(HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    val nThreads = 12
    val perThread = 10
    try {
      assert(post("/User/create", """{"username":"shared_ctr"}""").statusCode() === 200)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = (0 until nThreads).map { t =>
        scala.concurrent.Future {
          val me = s"cc_u$t"
          var ok = post(s"/User/create", s"""{"username":"$me"}""").statusCode() == 200
          (0 until perThread).foreach { _ =>
            ok &= post(s"/User/$me/call/update_balance", """{"x":1}""").statusCode() == 200
            ok &= post("/User/shared_ctr/call/update_balance", """{"x":1}""").statusCode() == 200
            ok &= get(s"/User/$me/find").body() == """{"found":true}"""
          }
          ok
        }
      }
      val results = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration(120, "seconds"))
      pool.shutdown()
      assert(results.forall(identity), "every concurrent request must succeed")
      (0 until nThreads).foreach { t =>
        assert(get(s"/User/cc_u$t/attr/balance").body() === s"""{"value":$perThread}""")
      }
      // the shared counter saw every increment exactly once
      assert(get("/User/shared_ctr/attr/balance").body()
        === s"""{"value":${nThreads * perThread}}""")
    } finally gateway.stop()
  }
}

/** Parked-exchange failure paths: a transport that never replies must
  * not leak the exchange — the park deadline turns it into a 504; a
  * gateway stopped with exchanges still parked answers them 503.
  */
class HttpGatewayParkTimeoutSpec extends AnyFunSuite {
  import graft.model.Event

  /** Concurrent-safe transport that swallows every request. */
  private final class BlackHole extends graft.runtime.EventTransport {
    override def sendAsync(evs: Seq[Event]): Unit = ()
    override def drain(): Unit = ()
    override def takeReply(eventId: String): Option[Event] = None
  }

  test("lost reply -> 504 at the park deadline; no leaked exchange") {
    val gw = new graft.serving.HttpGateway(
      TestEntities.registry, new BlackHole, parkTimeoutMs = 300L)
    gw.start()
    try {
      val http = HttpClient.newHttpClient()
      val r = http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${gw.boundPort}/ping")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 504, r.body())
      assert(r.body().contains("no reply"), r.body())
    } finally gw.stop()
  }

  test("stop() with parked exchanges answers them 503") {
    val gw = new graft.serving.HttpGateway(
      TestEntities.registry, new BlackHole, parkTimeoutMs = 600000L)
    gw.start()
    val http = HttpClient.newHttpClient()
    val fut = http.sendAsync(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${gw.boundPort}/ping")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    // let the request park, then stop the gateway under it
    Thread.sleep(300)
    gw.stop()
    val r = fut.get(10, java.util.concurrent.TimeUnit.SECONDS)
    assert(r.statusCode() === 503, r.body())
  }
}

/** The future-parked gate: concurrent MULTI-HOP calls over the
  * streaming runtime must SHARE micro-batches — each HTTP thread fires
  * its flow, parks its exchange on the [[graft.runtime.StateflowFuture]]
  * and frees its pool thread; the pump drains once for everyone. The
  * old design (global lock across each runtime touch) pinned the
  * gateway for a full batch cycle per request, serializing flows.
  */
class HttpGatewayTMixStreamingSpec extends SparkSpec {

  test("T-mix: concurrent transfers share micro-batches, balances conserved") {
    graft.model.TestEntities.registerFlows()
    val rt = new graft.streaming.StreamingEntityRuntime(TestEntities.registry, spark)
    val gw = new graft.serving.HttpGateway(TestEntities.registry, rt)
    gw.start()
    val http = HttpClient.newHttpClient()
    val base = s"http://127.0.0.1:${gw.boundPort}"
    def get(path: String) =
      http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    def post(path: String, body: String) =
      http.send(HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    val n = 8
    try {
      (0 until n).foreach { i =>
        assert(post("/YCSBEntity/create", s"""{"key":"t$i","value":100}""")
          .statusCode() === 200)
      }
      val batchesBefore = rt.busyBatches.size
      // n concurrent 2-hop transfers t_i -> t_{i+1}, all in flight at once
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val futs = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            val cl = HttpClient.newHttpClient()
            cl.send(HttpRequest.newBuilder(
                URI.create(s"$base/YCSBEntity/t$i/call/transfer"))
              .POST(HttpRequest.BodyPublishers.ofString(
                s"""{"transfer_amount":5,"other_entity":{"$$ref":["YCSBEntity","t${(i + 1) % n}"]}}"""))
              .build(), HttpResponse.BodyHandlers.ofString()).body()
          }
        })
      }
      futs.foreach(f => assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS)
        === """{"value":true}"""))
      pool.shutdown()
      val batchesUsed = rt.busyBatches.size - batchesBefore
      // pigeonhole: serialized flows would need at least one busy batch
      // EACH; fewer busy batches than flows proves multiple in-flight
      // flows rode the same batches
      assert(batchesUsed < n,
        s"$n two-hop flows used $batchesUsed busy batches — no sharing")
      // at least one pump drain completed several parked exchanges
      assert(gw.drainCompletions.exists(_ > 1),
        s"drain completions ${gw.drainCompletions} — exchanges never shared a drain")
      // no lost updates: every account sent 5 and received 5
      (0 until n).foreach { i =>
        assert(get(s"/YCSBEntity/t$i/attr/value").body() === """{"value":100}""")
      }
    } finally {
      gw.stop()
      rt.close()
    }
  }
}

/** The same gateway over the Structured Streaming runtime — HTTP request
  * -> MemoryStream ingress -> in-batch drain rounds -> reply future ->
  * HTTP response, the reference's full serving stack shape
  * (fastapi -> kafka -> flink in stateflow terms) in one process.
  * `StreamingEntityRuntime` IS an [[graft.runtime.EventTransport]], so
  * the gateway composes with zero adapter code.
  */
class HttpGatewayStreamingSpec extends SparkSpec {

  test("HTTP lifecycle end-to-end over the streaming runtime") {
    val rt = new graft.streaming.StreamingEntityRuntime(TestEntities.registry, spark)
    val gw = new HttpGateway(TestEntities.registry, rt)
    gw.start()
    try {
      val http = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${gw.boundPort}"
      def get(path: String) =
        http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      def post(path: String, body: String) =
        http.send(HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())

      assert(get("/ping").body() === """{"pong":true}""")
      assert(post("/User/create", """{"username":"streamer"}""").body()
        === """{"entity":"User","key":"streamer"}""")
      post("/User/streamer/call/update_balance", """{"x":5}""")
      post("/User/streamer/call/update_balance", """{"x":8}""")
      assert(get("/User/streamer/attr/balance").body() === """{"value":13}""")
      assert(get("/User/streamer/find").body() === """{"found":true}""")
    } finally {
      gw.stop()
      rt.close()
    }
  }
}

/** The T-mix gateway scenario, counting drained hops: with in-batch
  * continuation draining, n concurrent 2-hop flows need FEWER busy
  * batches than flows (sharing) AND each flow completes without a
  * per-hop trigger.
  */
class HttpGatewayTMixDrainingSpec extends SparkSpec {

  test("T-mix over the draining runtime: one-batch flows, balances conserved") {
    graft.model.TestEntities.registerFlows()
    val rt = new graft.streaming.StreamingEntityRuntime(TestEntities.registry, spark)
    val gw = new graft.serving.HttpGateway(TestEntities.registry, rt)
    gw.start()
    val http = HttpClient.newHttpClient()
    val base = s"http://127.0.0.1:${gw.boundPort}"
    def get(path: String) =
      http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    def post(path: String, body: String) =
      http.send(HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    val n = 8
    try {
      (0 until n).foreach { i =>
        assert(post("/YCSBEntity/create", s"""{"key":"d$i","value":100}""")
          .statusCode() === 200)
      }
      val batchesBefore = rt.busyBatches.size
      val hopsBefore = rt.loopbackWrittenCount
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val futs = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            val cl = HttpClient.newHttpClient()
            cl.send(HttpRequest.newBuilder(
                URI.create(s"$base/YCSBEntity/d$i/call/transfer"))
              .POST(HttpRequest.BodyPublishers.ofString(
                s"""{"transfer_amount":5,"other_entity":{"$$ref":["YCSBEntity","d${(i + 1) % n}"]}}"""))
              .build(), HttpResponse.BodyHandlers.ofString()).body()
          }
        })
      }
      futs.foreach(f => assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS)
        === """{"value":true}"""))
      pool.shutdown()
      val batchesUsed = rt.busyBatches.size - batchesBefore
      // the draining runtime needs no hop batches at all: every hop
      // drained inside its flow's ONE batch, so n flows can share down
      // to a single busy batch — strictly fewer batches than flows
      assert(batchesUsed < n,
        s"$n draining flows used $batchesUsed busy batches — no sharing")
      assert(rt.loopbackWrittenCount > hopsBefore, "hops must drain in-batch")
      // no lost updates around the ring
      (0 until n).foreach { i =>
        assert(get(s"/YCSBEntity/d$i/attr/value").body() === """{"value":100}""")
      }
    } finally {
      gw.stop()
      rt.close()
    }
  }
}

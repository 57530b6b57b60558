package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model.{EntityRef, EntityRegistry, Event, EventType, Payload}
import graft.model.Types.Args
import graft.runtime.{Client, EventTransport, StateflowFuture}
import graft.streaming.EventJson

/** HTTP serving layer over an entity runtime — the reference's FastAPI
  * client re-expressed on the JDK's built-in `com.sun.net.httpserver`
  * (zero added dependencies; the reference maps HTTP routes onto client
  * events the same way, `stateflow/client/fastapi/fastapi.py:25-147`:
  * one endpoint per entity method plus find + ping). Routes:
  *
  * {{{
  *   GET  /ping                        -> {"pong": true}
  *   POST /{entity}/create             body = JSON arg object
  *   GET  /{entity}/{key}/find         -> {"found": bool}
  *   GET  /{entity}/{key}/attr/{a}     -> {"value": ...}
  *   PUT  /{entity}/{key}/attr/{a}     body = {"value": ...}
  *   POST /{entity}/{key}/call/{m}     body = JSON arg object -> {"value": ...}
  *   POST /stateless/{fn}              body = JSON arg object -> {"value": ...}
  * }}}
  *
  * `attr`/`call`/`find` are literal path segments (the reference emits a
  * distinct static route per generated method; with a dynamic registry
  * the discriminator keeps attribute and method namespaces from
  * colliding). Values cross the boundary through [[EventJson]]'s
  * encode/decode, the runtime's client-edge format, so HTTP clients
  * observe the reference's JSON value semantics.
  *
  * Status mapping: unknown entity/method/attr/fn -> 404, malformed JSON
  * -> 400, duplicate create / failed invocation -> 409, reply lost past
  * the park deadline -> 504, anything the runtime rejects otherwise
  * -> 500.
  *
  * Concurrency — the FUTURE-PARKED design (the reference FastAPI layer
  * `await`s each request's future, fastapi.py:104-147; this is that
  * shape without an event loop): request IO + JSON parse run on the
  * pool; the runtime touch is split into FIRE (enqueue the request
  * event, cheap) and COMPLETE (a reply event arrives). A request whose
  * reply is not already available parks its `HttpExchange` on the
  * [[StateflowFuture]] and FREES its pool thread; one pump thread
  * drains the runtime and completes every parked exchange whose reply
  * landed, dispatching response serialization back to the pool. Over
  * the streaming runtime this means concurrent multi-hop flows SHARE
  * micro-batches — N in-flight T-style calls cost ~H batches, not N*H —
  * because everything fired between drains rides the next drain
  * together; no request ever holds a lock across a batch cycle.
  *
  * The gateway takes no lock: an [[EventTransport]] accepts concurrent
  * callers. The streaming runtime is fired and drained lock-free;
  * LocalRuntime computes the reply at fire time under its own lock, so
  * its fast path responds inline and the pump never runs for it. The
  * pump does not wait on one future as [[StateflowFuture.get]] does:
  * each drain serves every parked exchange at once.
  */
final class HttpGateway(
    registry: EntityRegistry,
    transport: EventTransport,
    port: Int = 0,
    parkTimeoutMs: Long = 60000L) {

  private val client = new Client(registry, transport)
  private val mapper = new ObjectMapper()

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(4, Runtime.getRuntime.availableProcessors() / 4),
    (r: Runnable) => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })

  // TCP_NODELAY on the server's sockets: without it, Nagle +
  // delayed-ACK adds the classic ~40 ms stall per keep-alive
  // request/response on loopback (measured: p50 44 ms -> sub-ms).
  // The JDK server only exposes this via the system property, read at
  // server creation.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)

  // ---- the parked-exchange pump --------------------------------------
  private final case class Parked(
      fut: StateflowFuture, ex: HttpExchange,
      interp: Event => (Int, ObjectNode), deadline: Long)
  private val parked = new java.util.concurrent.ConcurrentLinkedQueue[Parked]()
  private val pumpSignal = new Object
  @volatile private var running = true
  // observability for the concurrency spec: how many parked exchanges
  // each drain() completed — >1 proves flows shared the batch cycle
  private val completedPerDrain = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  def drainCompletions: Seq[Int] =
    completedPerDrain.toArray(new Array[Integer](0)).map(_.intValue()).toSeq

  private val pump = new Thread(() => {
    while (running) {
      if (parked.isEmpty)
        pumpSignal.synchronized { if (parked.isEmpty && running) pumpSignal.wait(100) }
      else {
        try transport.drain()
        catch { case _: InterruptedException => () case _: Exception => () }
        var n = parked.size()
        var completed = 0
        val now = System.nanoTime()
        while (n > 0 && running) {
          val p = parked.poll()
          if (p != null) {
            val done =
              try p.fut.poll()
              catch { case _: Exception => None }
            done match {
              case Some(r) => completed += 1; respondAsync(p, r)
              case None =>
                if (now > p.deadline)
                  pool.execute(() => err(p.ex, 504, s"no reply for ${p.fut.eventId}"))
                else parked.add(p)
            }
          }
          n -= 1
        }
        if (completed > 0) completedPerDrain.add(completed): Unit
      }
    }
  }, "graft-gateway-pump")
  pump.setDaemon(true)

  private def respondAsync(p: Parked, r: Event): Unit =
    pool.execute(() => {
      try { val (status, body) = p.interp(r); reply(p.ex, status, body) }
      catch { case e: Exception => err(p.ex, 500, e.toString) }
    })

  /** Fire the request, respond inline when the reply is already there
    * (eager transports; Ping over a drained stream), otherwise park the
    * exchange and free this pool thread.
    */
  private def dispatch(ex: HttpExchange, interp: Event => (Int, ObjectNode))(
      fire: => StateflowFuture): Unit = {
    val fut = fire
    fut.poll() match {
      case Some(r) => val (status, body) = interp(r); reply(ex, status, body)
      case None =>
        parked.add(Parked(fut, ex, interp,
          System.nanoTime() + parkTimeoutMs * 1000000L))
        pumpSignal.synchronized(pumpSignal.notifyAll())
    }
  }

  def start(): Unit = { server.start(); pump.start() }

  def stop(): Unit = {
    running = false
    pumpSignal.synchronized(pumpSignal.notifyAll())
    pump.join(2000)
    var p = parked.poll()
    while (p != null) { err(p.ex, 503, "gateway stopped"); p = parked.poll() }
    server.stop(0)
    pool.shutdown()
  }

  def boundPort: Int = server.getAddress.getPort

  private def reply(ex: HttpExchange, status: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def obj(kv: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    kv.foreach { case (k, v) => o.set[ObjectNode](k, EventJson.encodeValue(v)) }
    o
  }

  private def err(ex: HttpExchange, status: Int, msg: String): Unit =
    try reply(ex, status, obj("error" -> msg))
    catch { case _: java.io.IOException => () }

  private def readArgs(ex: HttpExchange): Args = {
    val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    if (raw.trim.isEmpty) Map.empty
    else EventJson.decodeValue(mapper.readTree(raw)) match {
      case m: Map[_, _] => m.map { case (k, v) => k.toString -> v }
      case other => throw new IllegalArgumentException(s"args must be a JSON object, got $other")
    }
  }

  // ---- per-route reply interpreters (the status mapping contract) ----

  private def onPing(r: Event): (Int, ObjectNode) = r match {
    case Event(_, _, _, EventType.Pong, _) => (200, obj("pong" -> true))
    case other => (500, obj("error" -> s"unexpected ping reply: $other"))
  }

  private def onStateless(fn: String)(r: Event): (Int, ObjectNode) = r match {
    case Event(_, _, _, EventType.SuccessfulInvocation, Payload.Result(v)) =>
      (200, obj("value" -> v))
    case Event(_, _, _, t, p) => (500, obj("error" -> s"stateless $fn failed: $t $p"))
  }

  private def onCreate(r: Event): (Int, ObjectNode) = r match {
    case Event(_, e, k, EventType.SuccessfulCreateClass, _) =>
      (200, obj("entity" -> e, "key" -> k))
    case Event(_, _, _, _, Payload.ErrorMsg(m)) => (409, obj("error" -> m))
    case other => (409, obj("error" -> other.toString))
  }

  private def onFind(r: Event): (Int, ObjectNode) =
    (200, obj("found" -> (r.eventType == EventType.FoundClass)))

  private def onGetAttr(ref: EntityRef, attr: String)(r: Event): (Int, ObjectNode) =
    r match {
      case Event(_, _, _, EventType.SuccessfulStateRequest, Payload.Result(v)) =>
        (200, obj("value" -> v))
      case Event(_, _, _, t, p) =>
        (404, obj("error" -> s"getAttr($ref.$attr) failed: $t $p"))
    }

  private def onSetAttr(r: Event): (Int, ObjectNode) = (200, obj("ok" -> true))

  private def onCall(ref: EntityRef, m: String)(r: Event): (Int, ObjectNode) = r match {
    case Event(_, _, _, EventType.SuccessfulInvocation, Payload.Result(v)) =>
      (200, obj("value" -> v))
    case Event(_, _, _, t, p) =>
      (409, obj("error" -> s"call ${ref.entity}.$m failed: $t $p"))
  }

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    try {
      (method, parts) match {
        case ("GET", List("ping")) =>
          dispatch(ex, onPing)(client.pingAsync())

        case ("POST", List("stateless", fn)) =>
          if (!registry.stateless.contains(fn)) err(ex, 404, s"unknown stateless fn: $fn")
          else {
            val args = readArgs(ex)
            dispatch(ex, onStateless(fn))(client.callStatelessAsync(fn, args))
          }

        case ("POST", List(entity, "create")) =>
          if (!registry.byName.contains(entity)) err(ex, 404, s"unknown entity: $entity")
          else {
            val args = readArgs(ex)
            dispatch(ex, onCreate)(client.createAsync(entity, args))
          }

        case ("GET", List(entity, key, "find")) =>
          if (!registry.byName.contains(entity)) err(ex, 404, s"unknown entity: $entity")
          else dispatch(ex, onFind)(client.findAsync(EntityRef(entity, key)))

        case ("GET", List(entity, key, "attr", attr)) =>
          if (!registry.byName.contains(entity)) err(ex, 404, s"unknown entity: $entity")
          else {
            val ref = EntityRef(entity, key)
            dispatch(ex, onGetAttr(ref, attr))(client.getAttrAsync(ref, attr))
          }

        case ("PUT", List(entity, key, "attr", attr)) =>
          if (!registry.byName.contains(entity)) err(ex, 404, s"unknown entity: $entity")
          else {
            val v = readArgs(ex).getOrElse("value",
              throw new IllegalArgumentException("body must be {\"value\": ...}"))
            dispatch(ex, onSetAttr)(client.setAttrAsync(EntityRef(entity, key), attr, v))
          }

        case ("POST", List(entity, key, "call", m)) =>
          registry.byName.get(entity) match {
            case None => err(ex, 404, s"unknown entity: $entity")
            case Some(et) if !et.methods.contains(m)
                && !graft.flow.FlowRegistry.has(s"$entity.$m") =>
              err(ex, 404, s"unknown method: $entity.$m")
            case Some(_) =>
              val ref = EntityRef(entity, key)
              val args = readArgs(ex)
              dispatch(ex, onCall(ref, m))(client.callAsync(ref, m, args))
          }

        case _ => err(ex, 404, s"no route: $method ${ex.getRequestURI.getPath}")
      }
    } catch {
      case e: IllegalArgumentException => err(ex, 400, e.getMessage)
      case e: com.fasterxml.jackson.core.JacksonException => err(ex, 400, s"bad JSON: ${e.getMessage}")
      case e: Exception => err(ex, 500, e.toString)
    }
  }
}

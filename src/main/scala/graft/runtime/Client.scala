package graft.runtime

import graft.model._
import graft.model.Types._
import graft.flow.FlowRegistry

/** A runtime that accepts request events and produces, for each, the
  * reply with the same event id: the future-based request/reply contract
  * of the reference client (/root/reference/stateflow/client/future.py:31-124;
  * class_ref.py:228-258 awaits client.send, the Kafka client completes
  * futures from the reply topic, kafka_client.py). Requests pipeline:
  * `sendAsync` fires without waiting, `drain` pumps the runtime and
  * `takeReply` surfaces a landed reply by event id. The streaming
  * runtime rides its ingress queue and reply map; the LocalRuntime
  * computes each reply eagerly and stashes it. All three accept
  * concurrent callers: each transport guards its own state (the HTTP
  * gateway calls them from many threads).
  */
trait EventTransport {
  /** Enqueue requests without waiting for their replies. */
  def sendAsync(evs: Seq[Event]): Unit
  /** Pump the runtime until the queued requests are done (no-op if eager). */
  def drain(): Unit
  /** Take (at most once) the reply for an event id, if it has landed. */
  def takeReply(eventId: String): Option[Event]

  /** Synchronous request/reply: fire the event, wait for its reply. */
  final def send(ev: Event): Event = {
    sendAsync(Seq(ev))
    new StateflowFuture(ev.eventId, this).get()
  }
}

/** Pending-reply handle — the StateflowFuture analog
  * (/root/reference/stateflow/client/future.py:31-124): created at send
  * time with the request id, completed by the reply event with the same
  * id. `get` drains the runtime until completion; `poll`/`isCompleted`
  * are the non-blocking probes; `result` interprets the reply the way
  * the reference's `complete()` does (value / ref / failure).
  */
final class StateflowFuture private[runtime] (
    val eventId: String, transport: EventTransport) {
  @volatile private var done: Option[Event] = None

  def poll(): Option[Event] = {
    if (done.isEmpty) done = transport.takeReply(eventId)
    done
  }

  def isCompleted: Boolean = poll().isDefined

  /** The reply, draining the runtime until it lands: the one place a
    * caller waits for a reply.
    */
  def get(): Event = {
    var i = 0
    while (poll().isEmpty && i < StateflowFuture.MaxDrains) { transport.drain(); i += 1 }
    poll().getOrElse(throw new IllegalStateException(
      s"no reply for $eventId after $i drains"))
  }

  /** Completed value (future.py:52-80): invocation/state results unwrap,
    * creates land as the typed ref, found-checks as Boolean, failures
    * throw with the runtime's message.
    */
  def result(): Any = get() match {
    case Event(_, e, k, EventType.SuccessfulCreateClass, _) => EntityRef(e, k)
    case Event(_, _, _, EventType.FoundClass, _) => true
    case Event(_, _, _, EventType.KeyNotFound, _) => false
    case Event(_, _, _, EventType.SuccessfulInvocation, Payload.Result(v)) => v
    case Event(_, _, _, EventType.SuccessfulStateRequest, Payload.Result(v)) => v
    case Event(_, _, _, EventType.SuccessfulStateRequest, _) => ()
    case Event(_, _, _, t, Payload.ErrorMsg(m)) =>
      throw new RuntimeException(s"$t: $m")
    case other => throw new RuntimeException(s"unexpected reply $other")
  }
}

object StateflowFuture {
  /** Drains [[StateflowFuture.get]] runs before it gives up on a reply;
    * a flow completes in one drain unless it spills past the runtime's
    * round cap.
    */
  val MaxDrains = 300
}

/** Runtime-agnostic client facade (ClassRef/MetaWrapper analog,
  * /root/reference/stateflow/client/class_ref.py:17-258): builds events,
  * derives the create key off-state (two-phase create, SURVEY O7), picks
  * InvokeStateful vs EventFlow per method exactly like the reference's
  * method dispatch (class_ref.py:45-51). Works identically over the
  * LocalRuntime and the Structured Streaming runtime.
  *
  * The async forms (AsyncClassRef parity, class_ref.py:228-258) fire the
  * event and return its pending future, so callers pipeline many
  * requests and drain the runtime once; each sync form is the same
  * request followed by `get()`.
  */
final class Client(registry: EntityRegistry, transport: EventTransport) {
  private var n = 0
  private def eid(): String = synchronized { n += 1; s"e$n-${System.nanoTime()}" }

  /** Build a request event and fire it: the one place a request is made. */
  private def request(entity: String, key: String, t: EventType, p: Payload): StateflowFuture = {
    val ev = Event(eid(), entity, key, t, p)
    transport.sendAsync(Seq(ev))
    new StateflowFuture(ev.eventId, transport)
  }

  // ----- async forms

  def createAsync(entity: String, args: Args): StateflowFuture =
    // phase 1: key off-state (O7)
    request(entity, registry(entity).keyOf(args), EventType.InitClass, Payload.CreateArgs(args))

  def findAsync(ref: EntityRef): StateflowFuture =
    request(ref.entity, ref.key, EventType.FindClass, Payload.Empty)

  def getAttrAsync(ref: EntityRef, attr: String): StateflowFuture =
    request(ref.entity, ref.key, EventType.GetState, Payload.AttrGet(attr))

  def setAttrAsync(ref: EntityRef, attr: String, value: Any): StateflowFuture =
    request(ref.entity, ref.key, EventType.UpdateState, Payload.AttrSet(attr, value))

  def callStatelessAsync(name: String, args: Args): StateflowFuture =
    request("_stateless", name, EventType.InvokeStateless, Payload.MethodCall(name, args))

  /** Method call: split methods (registered flows) travel as EventFlow
    * state machines; plain methods as InvokeStateful.
    */
  def callAsync(ref: EntityRef, method: String, args: Args): StateflowFuture = {
    val flowId = s"${ref.entity}.$method"
    if (FlowRegistry.has(flowId))
      request(ref.entity, ref.key, EventType.EventFlow,
        Payload.FlowPayload(FlowRegistry.instantiate(flowId, ref, args)))
    else
      request(ref.entity, ref.key, EventType.InvokeStateful, Payload.MethodCall(method, args))
  }

  def pingAsync(): StateflowFuture = request("", "", EventType.Ping, Payload.Empty)

  // ----- sync forms

  def create(entity: String, args: Args): Either[String, EntityRef] =
    createAsync(entity, args).get() match {
      case Event(_, e, k, EventType.SuccessfulCreateClass, _) => Right(EntityRef(e, k))
      case Event(_, _, _, _, Payload.ErrorMsg(m)) => Left(m)
      case other => Left(other.toString)
    }

  def find(ref: EntityRef): Boolean =
    findAsync(ref).get().eventType == EventType.FoundClass

  def getAttr(ref: EntityRef, attr: String): Any =
    getAttrAsync(ref, attr).get() match {
      case Event(_, _, _, EventType.SuccessfulStateRequest, Payload.Result(v)) => v
      case Event(_, _, _, t, p) =>
        throw new NoSuchElementException(s"getAttr($ref.$attr) failed: $t $p")
    }

  def setAttr(ref: EntityRef, attr: String, value: Any): Unit =
    setAttrAsync(ref, attr, value).get(): Unit

  def setState(ref: EntityRef, state: Types.State): Unit =
    request(ref.entity, ref.key, EventType.SetState, Payload.StateSet(state)).get(): Unit

  def deleteState(ref: EntityRef): Unit =
    request(ref.entity, ref.key, EventType.DeleteState, Payload.Empty).get(): Unit

  def callStateless(name: String, args: Args): Any =
    callStatelessAsync(name, args).get() match {
      case Event(_, _, _, EventType.SuccessfulInvocation, Payload.Result(v)) => v
      case Event(_, _, _, t, p) => throw new RuntimeException(s"stateless $name failed: $t $p")
    }

  def call(ref: EntityRef, method: String, args: Args): Any =
    callAsync(ref, method, args).get() match {
      case Event(_, _, _, EventType.SuccessfulInvocation, Payload.Result(v)) => v
      case Event(_, _, _, t, p) =>
        throw new RuntimeException(s"call ${ref.entity}.$method failed: $t $p")
    }
}

package graft.runtime

import graft.model._
import graft.model.Types._
import graft.flow.FlowRegistry

/** A runtime that accepts a request event and eventually produces the
  * reply for it (the future-based request/reply contract of the
  * reference client, /root/reference/stateflow/client/future.py:31-124).
  */
trait EventTransport {
  def send(ev: Event): Event
}

/** Transport that can PIPELINE requests: fire without blocking, pump
  * the runtime, surface replies by event id — what the reference's
  * async client rides on (class_ref.py:228-258 awaits client.send;
  * the Kafka client completes futures from the reply topic,
  * kafka_client.py). Both runtimes implement it: the streaming runtime
  * via its ingress queue + reply map, the LocalRuntime by computing
  * the reply eagerly and stashing it (synchronous machine, async API).
  * `sendNoWait`, `advance` and `takeReply` accept concurrent callers:
  * each transport guards its own state (the HTTP gateway calls them
  * from many threads).
  */
trait AsyncEventTransport extends EventTransport {
  /** Enqueue without waiting for the reply. */
  def sendNoWait(ev: Event): Unit
  /** Pump the runtime one step (drain micro-batches / no-op if eager). */
  def advance(): Unit
  /** Take (at most once) the reply for an event id, if it has landed. */
  def takeReply(eventId: String): Option[Event]
}

/** Pending-reply handle — the StateflowFuture analog
  * (/root/reference/stateflow/client/future.py:31-124): created at send
  * time with the request id, completed by the reply event with the same
  * id. `get` pumps the runtime until completion; `poll`/`isCompleted`
  * are the non-blocking probes; `result` interprets the reply the way
  * the reference's `complete()` does (value / ref / failure).
  */
final class StateflowFuture private[runtime] (
    val eventId: String, transport: AsyncEventTransport) {
  @volatile private var done: Option[Event] = None

  def poll(): Option[Event] = {
    if (done.isEmpty) done = transport.takeReply(eventId)
    done
  }

  def isCompleted: Boolean = poll().isDefined

  def get(maxAdvances: Int = 300): Event = {
    var i = 0
    while (poll().isEmpty && i < maxAdvances) { transport.advance(); i += 1 }
    poll().getOrElse(throw new IllegalStateException(
      s"no reply for $eventId after $i advances"))
  }

  /** Completed value (future.py:52-80): invocation/state results unwrap,
    * creates land as the typed ref, found-checks as Boolean, failures
    * throw with the runtime's message.
    */
  def result(maxAdvances: Int = 300): Any = get(maxAdvances) match {
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

/** Runtime-agnostic client facade (ClassRef/MetaWrapper analog,
  * /root/reference/stateflow/client/class_ref.py:17-258): builds events,
  * derives the create key off-state (two-phase create, SURVEY O7), picks
  * InvokeStateful vs EventFlow per method exactly like the reference's
  * method dispatch (class_ref.py:45-51). Works identically over the
  * LocalRuntime and the Structured Streaming runtime.
  */
final class Client(registry: EntityRegistry, transport: EventTransport) {
  private var n = 0
  private def eid(): String = synchronized { n += 1; s"e$n-${System.nanoTime()}" }

  def create(entity: String, args: Args): Either[String, EntityRef] = {
    val key = registry(entity).keyOf(args) // phase 1: key off-state (O7)
    transport.send(Event(eid(), entity, key, EventType.InitClass, Payload.CreateArgs(args))) match {
      case Event(_, _, _, EventType.SuccessfulCreateClass, _) => Right(EntityRef(entity, key))
      case Event(_, _, _, _, Payload.ErrorMsg(m)) => Left(m)
      case other => Left(other.toString)
    }
  }

  def find(ref: EntityRef): Boolean =
    transport.send(Event(eid(), ref.entity, ref.key, EventType.FindClass, Payload.Empty))
      .eventType == EventType.FoundClass

  def getAttr(ref: EntityRef, attr: String): Any =
    transport.send(Event(eid(), ref.entity, ref.key, EventType.GetState, Payload.AttrGet(attr))) match {
      case Event(_, _, _, EventType.SuccessfulStateRequest, Payload.Result(v)) => v
      case Event(_, _, _, t, p) =>
        throw new NoSuchElementException(s"getAttr($ref.$attr) failed: $t $p")
    }

  def setAttr(ref: EntityRef, attr: String, value: Any): Unit =
    transport.send(Event(eid(), ref.entity, ref.key, EventType.UpdateState,
      Payload.AttrSet(attr, value)))

  def setState(ref: EntityRef, state: Types.State): Unit =
    transport.send(Event(eid(), ref.entity, ref.key, EventType.SetState,
      Payload.StateSet(state)))

  def deleteState(ref: EntityRef): Unit =
    transport.send(Event(eid(), ref.entity, ref.key, EventType.DeleteState, Payload.Empty))

  def callStateless(name: String, args: Args): Any =
    transport.send(Event(eid(), "_stateless", name, EventType.InvokeStateless,
      Payload.MethodCall(name, args))) match {
      case Event(_, _, _, EventType.SuccessfulInvocation, Payload.Result(v)) => v
      case Event(_, _, _, t, p) => throw new RuntimeException(s"stateless $name failed: $t $p")
    }

  /** Method call: split methods (registered flows) travel as EventFlow
    * state machines; plain methods as InvokeStateful.
    */
  def call(ref: EntityRef, method: String, args: Args): Any = {
    transport.send(callEvent(ref, method, args)) match {
      case Event(_, _, _, EventType.SuccessfulInvocation, Payload.Result(v)) => v
      case Event(_, _, _, t, p) =>
        throw new RuntimeException(s"call ${ref.entity}.$method failed: $t $p")
    }
  }

  private def callEvent(ref: EntityRef, method: String, args: Args): Event = {
    val flowId = s"${ref.entity}.$method"
    if (FlowRegistry.has(flowId))
      Event(eid(), ref.entity, ref.key, EventType.EventFlow,
        Payload.FlowPayload(FlowRegistry.instantiate(flowId, ref, args)))
    else
      Event(eid(), ref.entity, ref.key, EventType.InvokeStateful,
        Payload.MethodCall(method, args))
  }

  // ----- async variants (AsyncClassRef parity, class_ref.py:228-258):
  // the same request events, returned as pending futures instead of
  // being awaited in place — callers pipeline many requests and pump
  // the runtime once. Requires a pipelining transport.

  private def asyncT: AsyncEventTransport = transport match {
    case a: AsyncEventTransport => a
    case other => throw new UnsupportedOperationException(
      s"${other.getClass.getSimpleName} cannot pipeline (no AsyncEventTransport)")
  }

  private def fire(ev: Event): StateflowFuture = {
    val t = asyncT
    t.sendNoWait(ev)
    new StateflowFuture(ev.eventId, t)
  }

  def createAsync(entity: String, args: Args): StateflowFuture =
    fire(Event(eid(), entity, registry(entity).keyOf(args),
      EventType.InitClass, Payload.CreateArgs(args)))

  def callAsync(ref: EntityRef, method: String, args: Args): StateflowFuture =
    fire(callEvent(ref, method, args))

  def getAttrAsync(ref: EntityRef, attr: String): StateflowFuture =
    fire(Event(eid(), ref.entity, ref.key, EventType.GetState,
      Payload.AttrGet(attr)))

  def findAsync(ref: EntityRef): StateflowFuture =
    fire(Event(eid(), ref.entity, ref.key, EventType.FindClass, Payload.Empty))

  def setAttrAsync(ref: EntityRef, attr: String, value: Any): StateflowFuture =
    fire(Event(eid(), ref.entity, ref.key, EventType.UpdateState,
      Payload.AttrSet(attr, value)))

  def callStatelessAsync(name: String, args: Args): StateflowFuture =
    fire(Event(eid(), "_stateless", name, EventType.InvokeStateless,
      Payload.MethodCall(name, args)))

  def pingAsync(): StateflowFuture =
    fire(Event(eid(), "", "", EventType.Ping, Payload.Empty))
}

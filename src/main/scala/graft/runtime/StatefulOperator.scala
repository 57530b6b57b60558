package graft.runtime

import graft.model._
import graft.model.Types._
import graft.flow.{FlowRegistry, FlowState}
import graft.flow.FlowModel._

/** The per-key read-modify-write handler — the runtime-agnostic core of
  * the engine, mirroring StatefulOperator.handle
  * (/root/reference/stateflow/dataflow/stateful_operator.py:64-121).
  * Both the synchronous LocalRuntime and the Structured Streaming
  * runtime call exactly this function, so scenario semantics are pinned
  * once.
  *
  * Returns (outbound events, new state): outbound events are either a
  * client reply (Reply event types) or an internal continuation
  * (EventFlow hop to another key).
  */
object StatefulOperator {

  def handle(registry: EntityRegistry)(
      ev: Event, state: Option[State]): (Seq[Event], Option[State]) = {
    lazy val et = registry(ev.entity)

    def reply(t: EventType, p: Payload): Event =
      Event(ev.eventId, ev.entity, ev.key, t, p)

    ev.eventType match {
      // Idempotent create (phase 2 of two-phase create, SURVEY O9;
      // stateful_operator.py:123-157): existing key -> FailedInvocation.
      case EventType.InitClass =>
        val args = ev.payload.asInstanceOf[Payload.CreateArgs].args
        state match {
          case Some(_) =>
            (Seq(reply(EventType.FailedInvocation,
              Payload.ErrorMsg(s"${ev.entity}(${ev.key}) already exists"))), state)
          case None =>
            (Seq(reply(EventType.SuccessfulCreateClass, Payload.Result(ev.key))),
              Some(et.init(args)))
        }

      case EventType.FindClass =>
        state match {
          case Some(_) => (Seq(reply(EventType.FoundClass, Payload.Result(ev.key))), state)
          case None => (Seq(reply(EventType.KeyNotFound, Payload.Empty)), state)
        }

      // Stateless invocation: no key, no state (reference InvokeStateless).
      case EventType.InvokeStateless =>
        val p = ev.payload.asInstanceOf[Payload.MethodCall]
        registry.stateless.get(p.method) match {
          case Some(fn) =>
            (Seq(reply(EventType.SuccessfulInvocation, Payload.Result(fn(p.args)))), state)
          case None =>
            (Seq(reply(EventType.FailedInvocation,
              Payload.ErrorMsg(s"no stateless function ${p.method}"))), state)
        }

      // Keyless liveness probe (reference Ping, fastapi.py:62-82): must
      // dispatch BEFORE the state-existence guard - ping has no key.
      case EventType.Ping =>
        (Seq(reply(EventType.Pong, Payload.Empty)), state)

      // Everything below requires existing state (stateful_operator.py:102-111).
      case _ if state.isEmpty =>
        (Seq(reply(EventType.KeyNotFound,
          Payload.ErrorMsg(s"${ev.entity}(${ev.key}) does not exist"))), state)

      case EventType.GetState =>
        val attr = ev.payload.asInstanceOf[Payload.AttrGet].attr
        (Seq(reply(EventType.SuccessfulStateRequest, Payload.Result(state.get(attr)))), state)

      case EventType.UpdateState =>
        val p = ev.payload.asInstanceOf[Payload.AttrSet]
        (Seq(reply(EventType.SuccessfulStateRequest, Payload.Empty)),
          Some(state.get + (p.attr -> p.value)))

      case EventType.SetState =>
        val p = ev.payload.asInstanceOf[Payload.StateSet]
        (Seq(reply(EventType.SuccessfulStateRequest, Payload.Empty)), Some(p.state))

      case EventType.DeleteState =>
        (Seq(reply(EventType.SuccessfulStateRequest, Payload.Empty)), None)

      case EventType.InvokeStateful =>
        val p = ev.payload.asInstanceOf[Payload.MethodCall]
        et.methods.get(p.method) match {
          case None =>
            (Seq(reply(EventType.FailedInvocation,
              Payload.ErrorMsg(s"no method ${p.method}"))), state)
          case Some(m) =>
            val (st2, result) = m.fn(state.get, p.args)
            // read-only methods skip the state write (O13 + write-skip
            // guard, stateful_operator.py:118-121)
            val newState = if (m.readOnly) state else Some(st2)
            (Seq(reply(EventType.SuccessfulInvocation, Payload.Result(result))), newState)
        }

      case EventType.EventFlow =>
        val fs = ev.payload.asInstanceOf[Payload.FlowPayload].flow
        stepFlow(ev.eventId, fs, state.get)

      case other =>
        (Seq(reply(EventType.FailedInvocation,
          Payload.ErrorMsg(s"unexpected event type $other"))), state)
    }
  }

  /** Resolve the routing address of the current node. */
  def nodeAddr(fs: FlowState): EntityRef = {
    val node = FlowRegistry.template(fs.templateId).nodes(fs.current)
    def own(o: OwnerSel): EntityRef = o match {
      case SelfE => fs.self
      case Other(f) => f(fs.env)
    }
    node match {
      case Start(_, _) => fs.self
      case Exec(_, o, _, _) => own(o)
      case Branch(_, o, _, _, _) => own(o)
      case Loop(_, _, _, _, _) => fs.self
      case Ret(_, o, _) => own(o)
    }
  }

  /** Advance the flow while successive nodes live on THIS key — the
    * same-key step-batching loop (SURVEY O14,
    * stateful_operator.py:249-275). On a key switch, emit one
    * continuation event; on Ret, emit the client reply.
    */
  private def stepFlow(eventId: String, fs0: FlowState, state0: State): (Seq[Event], Option[State]) = {
    val tmpl = FlowRegistry.template(fs0.templateId)
    val here = nodeAddr(fs0)
    var fs = fs0
    var state = state0
    while (true) {
      val node = tmpl.nodes(fs.current)
      val addr = nodeAddr(fs)
      if (addr != here) {
        // key switch: one hop (the reference pays a broker round-trip
        // here, dataflow.py:96-106; the streaming runtime drains it in
        // the same micro-batch)
        return (Seq(Event(eventId, addr.entity, addr.key, EventType.EventFlow,
          Payload.FlowPayload(fs))), Some(state))
      }
      node match {
        case Start(_, next) => fs = fs.copy(current = next)
        case Exec(_, _, fn, next) =>
          val (st2, env2) = fn(state, fs.env)
          state = st2
          fs = fs.copy(current = next, env = env2)
        case Branch(_, _, pred, t, f) =>
          fs = fs.copy(current = if (pred(state, fs.env)) t else f)
        case Loop(id, coll, write, body, exit) =>
          val iterKey = s"_it$id"
          val idx = fs.env.getOrElse(iterKey, 0).asInstanceOf[Int]
          val xs = coll(fs.env)
          if (idx < xs.size)
            fs = fs.copy(current = body,
              env = write(fs.env, xs(idx)) + (iterKey -> (idx + 1)))
          else
            fs = fs.copy(current = exit, env = fs.env - iterKey)
        case Ret(_, _, value) =>
          val v = value(state, fs.env)
          return (Seq(Event(eventId, fs.self.entity, fs.self.key,
            EventType.SuccessfulInvocation, Payload.Result(v))), Some(state))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

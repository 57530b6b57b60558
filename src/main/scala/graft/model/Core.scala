package graft.model

/** Core entity-runtime model, re-expressing the reference's data model
  * (SURVEY.md §1.1) in plain Scala:
  *  - an entity type = keyed stateful operator (one logical operator per
  *    class, instances partitioned by key;
  *    /root/reference/stateflow/dataflow/stateful_operator.py:21-34)
  *  - state = per-key attribute map
  *    (/root/reference/stateflow/dataflow/state.py:5-32)
  *  - the Event envelope is the only thing that moves
  *    (/root/reference/stateflow/dataflow/event.py:65-98)
  */
object Types {
  /** Per-key entity state: attr -> value. */
  type State = Map[String, Any]
  /** Ordered call arguments / flow environment. */
  type Args = Map[String, Any]
  type Env = Map[String, Any]
}
import Types._

/** Address of one entity instance (the reference's FunctionAddress +
  * InternalClassRef collapse to this;
  * /root/reference/stateflow/dataflow/address.py:61-98).
  */
final case class EntityRef(entity: String, key: String) extends Serializable

/** Event types, mirroring /root/reference/stateflow/dataflow/event.py:15-48. */
sealed trait EventType extends Serializable
object EventType {
  sealed trait Request extends EventType
  sealed trait Reply extends EventType
  case object InitClass extends Request
  case object FindClass extends Request
  case object GetState extends Request
  /** Replace the whole state blob (reference SetState, event.py:24). */
  case object SetState extends Request
  /** Point-write one attribute (reference UpdateState, event.py:25). */
  case object UpdateState extends Request
  case object DeleteState extends Request
  case object InvokeStateful extends Request
  /** Invoke a registered stateless function (reference InvokeStateless,
    * event.py:16; no key routing).
    */
  case object InvokeStateless extends Request
  case object EventFlow extends Request
  case object Ping extends Request

  case object SuccessfulCreateClass extends Reply
  case object SuccessfulInvocation extends Reply
  case object SuccessfulStateRequest extends Reply
  case object FoundClass extends Reply
  case object KeyNotFound extends Reply
  case object FailedInvocation extends Reply
  case object Pong extends Reply

  /** Every event type, in the order that numbers them: a type's position
    * is its tag in [[graft.streaming.EventBinary]], which the durable
    * file ingress keeps on disk and has no migration for. Append-only: a
    * new type goes at the end; moving or removing one makes stored
    * events decode as another type.
    */
  val All: Seq[EventType] = Seq(
    InitClass, FindClass, GetState, SetState, UpdateState, DeleteState,
    InvokeStateful, InvokeStateless, EventFlow, Ping,
    SuccessfulCreateClass, SuccessfulInvocation, SuccessfulStateRequest,
    FoundClass, KeyNotFound, FailedInvocation, Pong)
}

/** Typed payload variants (the reference ships pickled dicts; we keep a
  * closed ADT so both the local and the streaming runtime serialize it
  * mechanically).
  */
sealed trait Payload extends Serializable
object Payload {
  final case class CreateArgs(args: Args) extends Payload
  final case class AttrGet(attr: String) extends Payload
  final case class AttrSet(attr: String, value: Any) extends Payload
  final case class StateSet(state: Types.State) extends Payload
  final case class MethodCall(method: String, args: Args) extends Payload
  final case class FlowPayload(flow: graft.flow.FlowState) extends Payload
  final case class Result(value: Any) extends Payload
  final case class ErrorMsg(msg: String) extends Payload
  case object Empty extends Payload
}

/** The unit that moves through the dataflow
  * (/root/reference/stateflow/dataflow/event.py:65-98). `key` is empty
  * only for the pre-key leg of InitClass (two-phase create, SURVEY O7).
  */
final case class Event(
    eventId: String,
    entity: String,
    key: String,
    eventType: EventType,
    payload: Payload) extends Serializable {
  def ref: EntityRef = EntityRef(entity, key)
}

/** A non-split method: pure (state, args) -> (state', result).
  * `readOnly` mirrors the reference's write-skip optimization
  * (/root/reference/stateflow/analysis/extract_method_descriptor.py:190-232).
  */
final case class Method(fn: (State, Args) => (State, Any), readOnly: Boolean = false)

/** An entity type: key derivation + initial state (the `__init__`/`__key__`
  * pair) and its non-split methods. Split (multi-entity) methods live in
  * [[graft.flow.FlowRegistry]] as flows.
  */
final case class EntityType(
    name: String,
    keyOf: Args => String,
    init: Args => State,
    methods: Map[String, Method])

/** Static registry of entity types — the compile-time product of the
  * reference's class analysis (SURVEY O1-O3), available on every JVM
  * (executors included) like the reference's re-exec'd generated module.
  */
final class EntityRegistry(
    types: Seq[EntityType],
    val stateless: Map[String, Args => Any] = Map.empty) extends Serializable {
  val byName: Map[String, EntityType] = types.map(t => t.name -> t).toMap
  def apply(name: String): EntityType = byName(name)
}

package graft.streaming

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import scala.jdk.CollectionConverters._
import graft.model._
import graft.model.Types._
import graft.flow.FlowState

/** JSON wire codec for the event envelope — the serialization layer the
  * reference runs between worker and broker
  * (/root/reference/stateflow/serialization/json_serde.py, envelope shape
  * /root/reference/stateflow/dataflow/event.py:65-98). Our payloads are a
  * closed ADT instead of pickled dicts, so the codec is total and
  * mechanical: a `t` discriminator per Payload variant, plus a recursive
  * value encoding for the open `Any` positions (args / state / env).
  *
  * Wire model (matches Python JSON semantics, which the reference wire
  * format inherits): one integer type — all integrals decode as Long
  * (entity methods already coerce, see TestEntities.I) — and one float
  * type (Double). Seqs decode as Vector. Two tagged extensions carry the
  * non-JSON-native types: {"$ref":[entity,key]} for EntityRef and
  * {"$flow":{...}} for a travelling FlowState. A plain map whose single
  * key is "$ref"/"$flow" would be misread; entity state attribute names
  * are author-controlled, so the tags are reserved words of the wire.
  *
  * The envelope columns are exactly `event_id STRING, namespace STRING,
  * name STRING, key STRING, event_type STRING, payload STRING` — the
  * payload is itself JSON, nested as a string like the reference's
  * serialized bytes field.
  */
object EventJson {

  private val f = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()

  private val typeByName: Map[String, EventType] =
    EventType.All.map(t => t.toString -> t).toMap

  // ------------------------------------------------------------- values

  def encodeValue(v: Any): JsonNode = v match {
    case null => f.nullNode()
    case b: Boolean => f.booleanNode(b)
    case i: Int => f.numberNode(i.toLong)
    case l: Long => f.numberNode(l)
    case s: Short => f.numberNode(s.toLong)
    case b: Byte => f.numberNode(b.toLong)
    case d: Double => f.numberNode(d)
    case fl: Float => f.numberNode(fl.toDouble)
    case s: String => f.textNode(s)
    case r: EntityRef =>
      val o = f.objectNode()
      o.set[JsonNode]("$ref", f.arrayNode().add(r.entity).add(r.key))
      o
    case fs: FlowState =>
      val o = f.objectNode()
      o.set[JsonNode]("$flow", encodeFlowState(fs))
      o
    case m: Map[_, _] =>
      val o = f.objectNode()
      m.foreach { case (k, value) => o.set[JsonNode](k.toString, encodeValue(value)) }
      o
    case xs: Seq[_] =>
      val a = f.arrayNode()
      xs.foreach(x => a.add(encodeValue(x)))
      a
    case xs: Array[_] =>
      val a = f.arrayNode()
      xs.foreach(x => a.add(encodeValue(x)))
      a
    case other =>
      throw new IllegalArgumentException(
        s"value not in the wire model: $other (${other.getClass.getName})")
  }

  def decodeValue(n: JsonNode): Any = {
    if (n.isNull) null
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isTextual) n.asText()
    else if (n.isArray) n.asInstanceOf[ArrayNode].elements().asScala.map(decodeValue).toVector
    else { // object: tagged extension or plain map
      val o = n.asInstanceOf[ObjectNode]
      if (o.size() == 1 && o.has("$ref")) {
        val a = o.get("$ref")
        EntityRef(a.get(0).asText(), a.get(1).asText())
      } else if (o.size() == 1 && o.has("$flow")) {
        decodeFlowState(o.get("$flow"))
      } else {
        o.properties().asScala.map(e => e.getKey -> decodeValue(e.getValue)).toMap
      }
    }
  }

  private def encodeFlowState(fs: FlowState): ObjectNode = {
    val o = f.objectNode()
    o.put("template", fs.templateId)
    o.put("node", fs.current)
    o.set[JsonNode]("env", encodeValue(fs.env))
    o.set[JsonNode]("self", encodeValue(fs.self).get("$ref"))
    o
  }

  private def decodeFlowState(n: JsonNode): FlowState = {
    val selfA = n.get("self")
    FlowState(
      n.get("template").asText(),
      n.get("node").asInt(),
      decodeValue(n.get("env")).asInstanceOf[Map[String, Any]],
      EntityRef(selfA.get(0).asText(), selfA.get(1).asText()))
  }

  // ------------------------------------------------------------ payload

  private def decodeArgs(n: JsonNode): Args =
    decodeValue(n).asInstanceOf[Map[String, Any]]

  def encodePayload(p: Payload): ObjectNode = {
    val o = f.objectNode()
    p match {
      case Payload.CreateArgs(args) =>
        o.put("t", "CreateArgs"); o.set[JsonNode]("args", encodeValue(args))
      case Payload.AttrGet(attr) =>
        o.put("t", "AttrGet"); o.put("attr", attr): Unit
      case Payload.AttrSet(attr, value) =>
        o.put("t", "AttrSet"); o.put("attr", attr)
        o.set[JsonNode]("value", encodeValue(value))
      case Payload.StateSet(state) =>
        o.put("t", "StateSet"); o.set[JsonNode]("state", encodeValue(state))
      case Payload.MethodCall(method, args) =>
        o.put("t", "MethodCall"); o.put("method", method)
        o.set[JsonNode]("args", encodeValue(args))
      case Payload.FlowPayload(flow) =>
        o.put("t", "FlowPayload"); o.set[JsonNode]("flow", encodeFlowState(flow))
      case Payload.Result(value) =>
        o.put("t", "Result"); o.set[JsonNode]("value", encodeValue(value))
      case Payload.ErrorMsg(msg) =>
        o.put("t", "ErrorMsg"); o.put("msg", msg): Unit
      case Payload.Empty =>
        o.put("t", "Empty"): Unit
    }
    o
  }

  def decodePayload(n: JsonNode): Payload = n.get("t").asText() match {
    case "CreateArgs" => Payload.CreateArgs(decodeArgs(n.get("args")))
    case "AttrGet" => Payload.AttrGet(n.get("attr").asText())
    case "AttrSet" => Payload.AttrSet(n.get("attr").asText(), decodeValue(n.get("value")))
    case "StateSet" => Payload.StateSet(decodeArgs(n.get("state")))
    case "MethodCall" => Payload.MethodCall(n.get("method").asText(), decodeArgs(n.get("args")))
    case "FlowPayload" => Payload.FlowPayload(decodeFlowState(n.get("flow")))
    case "Result" => Payload.Result(decodeValue(n.get("value")))
    case "ErrorMsg" => Payload.ErrorMsg(n.get("msg").asText())
    case "Empty" => Payload.Empty
    case other => throw new IllegalArgumentException(s"unknown payload tag: $other")
  }

  // ----------------------------------------------------------- envelope

  def encode(ev: Event): String = {
    val o = f.objectNode()
    o.put("event_id", ev.eventId)
    o.put("namespace", "global")
    o.put("name", ev.entity)
    o.put("key", ev.key)
    o.put("event_type", ev.eventType.toString)
    o.put("payload", mapper.writeValueAsString(encodePayload(ev.payload)))
    mapper.writeValueAsString(o)
  }

  def decode(s: String): Event = {
    val o = mapper.readTree(s)
    Event(
      o.get("event_id").asText(),
      o.get("name").asText(),
      o.get("key").asText(),
      typeByName.getOrElse(o.get("event_type").asText(),
        throw new IllegalArgumentException(
          s"unknown event_type: ${o.get("event_type").asText()}")),
      decodePayload(mapper.readTree(o.get("payload").asText())))
  }
}

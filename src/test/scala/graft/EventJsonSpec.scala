package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.model._
import graft.model.Types._
import graft.flow.FlowState
import graft.streaming.{EventBinary, EventJson}

/** Roundtrip property for the JSON wire codec over the full EventType x
  * Payload space, including nested env/state values and travelling
  * FlowStates — the test the reference runs against its serde
  * (/root/reference/tests/serialization tests). No SparkSession needed:
  * the codec is plain JVM code used from executor-side maps.
  */
class EventJsonSpec extends AnyFunSuite {

  // --- generators over the CANONICAL wire value model -------------------
  // (one integer type = Long, one float = Double, Seq = Vector; the
  // encoder accepts wider inputs, normalization is asserted separately)

  private val genScalar: Gen[Any] = Gen.oneOf(
    Gen.const(null),
    Gen.oneOf(true, false),
    Gen.choose(Long.MinValue, Long.MaxValue),
    Gen.choose(-1e9, 1e9).map(d => d: Any),
    Gen.alphaNumStr.map(s => s: Any),
    for { e <- Gen.identifier; k <- Gen.identifier } yield EntityRef(e, k))

  private def genValue(depth: Int): Gen[Any] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      4 -> genScalar,
      1 -> Gen.listOfN(3, genValue(depth - 1)).map(_.toVector),
      1 -> Gen.mapOfN(3, Gen.zip(Gen.identifier, genValue(depth - 1))))

  private val genEnv: Gen[Env] = Gen.mapOfN(4, Gen.zip(Gen.identifier, genValue(2)))

  private val genFlow: Gen[FlowState] = for {
    t <- Gen.identifier
    n <- Gen.choose(0, 50)
    env <- genEnv
    e <- Gen.identifier; k <- Gen.identifier
  } yield FlowState(t, n, env, EntityRef(e, k))

  private val genPayload: Gen[Payload] = Gen.oneOf(
    genEnv.map(Payload.CreateArgs),
    Gen.identifier.map(Payload.AttrGet),
    Gen.zip(Gen.identifier, genValue(2)).map { case (a, v) => Payload.AttrSet(a, v) },
    genEnv.map(Payload.StateSet),
    Gen.zip(Gen.identifier, genEnv).map { case (m, a) => Payload.MethodCall(m, a) },
    genFlow.map(Payload.FlowPayload),
    genValue(2).map(Payload.Result),
    Gen.alphaNumStr.map(Payload.ErrorMsg),
    Gen.const(Payload.Empty))

  private val genEvent: Gen[Event] = for {
    id <- Gen.identifier
    entity <- Gen.identifier
    key <- Gen.oneOf(Gen.const(""), Gen.identifier) // empty = pre-key InitClass leg
    et <- Gen.oneOf(EventType.All)
    p <- genPayload
  } yield Event(id, entity, key, et, p)

  test("encode/decode roundtrips every event in the canonical model") {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(42L)
    (1 to 500).foreach { _ =>
      val ev = genEvent.pureApply(params, seed)
      seed = seed.next
      val wire = EventJson.encode(ev)
      assert(EventJson.decode(wire) === ev, s"roundtrip failed for: $wire")
    }
  }

  test("every event type survives the wire by name") {
    EventType.All.foreach { et =>
      val ev = Event("e1", "User", "k", et, Payload.Empty)
      assert(EventJson.decode(EventJson.encode(ev)).eventType === et)
    }
  }

  test("wire numbers normalize like the reference's Python JSON: one int type") {
    val ev = Event("e", "T", "k", EventType.InvokeStateful,
      Payload.MethodCall("m", Map("i" -> 5, "l" -> 5L, "f" -> 1.5f, "d" -> 1.5,
        "arr" -> Array(1, 2), "seq" -> List("a"))))
    val back = EventJson.decode(EventJson.encode(ev)).payload
      .asInstanceOf[Payload.MethodCall].args
    assert(back("i") === 5L)       // Int -> Long
    assert(back("l") === 5L)
    assert(back("f") === 1.5)      // Float -> Double
    assert(back("d") === 1.5)
    assert(back("arr") === Vector(1L, 2L))
    assert(back("seq") === Vector("a"))
  }

  test("nested flow state with refs and sub-envs roundtrips") {
    val fs = FlowState("checkout", 7,
      Map("user" -> EntityRef("User", "alice"),
        "_sub3" -> Map("total" -> 42L, "items" -> Vector("a", "b")),
        "snapshot" -> Map("balance" -> 10L)),
      EntityRef("Cart", "c9"))
    val ev = Event("e2", "Cart", "c9", EventType.EventFlow, Payload.FlowPayload(fs))
    assert(EventJson.decode(EventJson.encode(ev)) === ev)
  }

  test("EventBinary roundtrips the typed event graph (internal hop codec)") {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(7L)
    (1 to 100).foreach { _ =>
      val ev = genEvent.pureApply(params, seed)
      seed = seed.next
      assert(EventBinary.decode(EventBinary.encode(ev)) === ev)
    }
  }

  test("EventBinary rejects non-allowlisted classes (gadget defense)") {
    // a Java-serialized object, the classic gadget shape: the codec reads
    // its first byte (0xAC, the stream magic) as a tag, knows no such
    // tag, and rejects the line before decoding anything
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(new java.io.File("/tmp/gadget"))
    oos.close()
    val line = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    intercept[EventBinary.CodecException] { EventBinary.decode(line) }
  }

  test("payload string is itself valid JSON inside the envelope (wire schema)") {
    val wire = EventJson.encode(Event("e", "T", "k", EventType.Ping, Payload.Empty))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val env = om.readTree(wire)
    Seq("event_id", "namespace", "name", "key", "event_type", "payload")
      .foreach(f => assert(env.has(f), s"missing envelope field $f"))
    assert(om.readTree(env.get("payload").asText()).get("t").asText() === "Empty")
  }
}

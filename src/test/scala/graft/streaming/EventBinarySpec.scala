package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.model._
import graft.model.Types._
import graft.flow.FlowState
import StreamingEntityRuntime.{DrainOut, Key, Work}
import EventBinary.CodecException

/** The runtime codec's two contracts. Round trip: every value of the
  * closed set comes back equal and of the same class, number widths
  * included. Hostile input: bytes no encoder wrote are rejected with a
  * [[CodecException]], in bounded time and memory, before anything
  * outside the model is built.
  */
class EventBinarySpec extends AnyFunSuite {

  // EventJsonSpec's generator, widened to every width the codec keeps
  private val genScalar: Gen[Any] = Gen.oneOf(
    Gen.const(null),
    Gen.oneOf(true, false),
    Gen.choose(Long.MinValue, Long.MaxValue),
    Gen.choose(Int.MinValue, Int.MaxValue),
    Gen.choose(Short.MinValue, Short.MaxValue),
    Gen.choose(Byte.MinValue, Byte.MaxValue),
    Gen.choose(-1e9, 1e9).map(d => d: Any),
    Gen.choose(-1e6f, 1e6f).map(f => f: Any),
    Gen.alphaNumStr.map(s => s: Any),
    for { e <- Gen.identifier; k <- Gen.identifier } yield EntityRef(e, k))

  private def genValue(depth: Int): Gen[Any] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      4 -> genScalar,
      1 -> Gen.listOfN(3, genValue(depth - 1)).map(_.toVector),
      1 -> Gen.listOfN(3, genValue(depth - 1)),
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
    key <- Gen.oneOf(Gen.const(""), Gen.identifier)
    et <- Gen.oneOf(EventType.All)
    p <- genPayload
  } yield Event(id, entity, key, et, p)

  private val genKey = Gen.zip(Gen.identifier, Gen.identifier)
  private val genEntry = Gen.zip(genKey, Gen.option(genEnv))

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.iterate(org.scalacheck.rng.Seed(seed))(_.next).take(n)
      .map(s => g.pureApply(Gen.Parameters.default, s)).toVector

  /** A value's classes, down to every leaf: equal shapes mean no number
    * changed its width on the way.
    */
  private def shape(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k -> shape(x) }
    case xs: Seq[_] => xs.map(shape).toList
    case p: Product => p.productIterator.map(shape).toList
    case x => if (x == null) null else x.getClass
  }

  private val events = sample(genEvent, 600, 42L)

  test("600 generated events round-trip equal, every number keeping its class") {
    events.foreach { ev =>
      val back = EventBinary.event.decode(EventBinary.event.encode(ev))
      assert(back === ev)
      assert(shape(back) === shape(ev), s"a class changed: $ev")
      assert(EventBinary.decode(EventBinary.encode(ev)) === ev)
    }
    // the widened generator reaches every width and both seq shapes
    val leaves = events.map(shape).toString
    Seq("Integer", "Short", "Byte", "Float", "Long", "Double").foreach(c => assert(leaves.contains(s"java.lang.$c")))
  }

  test("changelog entries (tombstones included), work and drain results round-trip") {
    val entries = sample(genEntry, 200, 1L)
    assert(entries.exists(_._2.isEmpty) && entries.exists(_._2.isDefined))
    assert(EventBinary.changelog.decode(EventBinary.changelog.encode(entries)) === entries)
    assert(shape(EventBinary.changelog.decode(EventBinary.changelog.encode(entries))) === shape(entries))
    val work = events.grouped(3).zip(sample(genKey, 200, 2L)).map { case (evs, k) => Work(k, evs.toVector) }.toVector
    assert(EventBinary.works.decode(EventBinary.works.encode(work)) === work)
    val outs = work.zip(entries).map { case (w, (_, st)) => DrainOut(w.key, w.events, st, changed = st.isEmpty) }
    assert(EventBinary.results.decode(EventBinary.results.encode(outs)) === outs)
    assert(EventBinary.changelog.decode(EventBinary.changelog.encode(Nil)) === Nil)
  }

  test("golden bytes: one event per payload variant and a changelog file") {
    // Stored ingress lines and changelogs have no migration, and a codec
    // whose tags moved still round-trips, so the bytes are pinned here.
    // A change below is a format change: append tags, never renumber.
    def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString
    // id "e", entity "User", key "u1"; then the type tag, the payload tag
    // and the payload
    val head = "00000001" + "65" + "00000004" + "55736572" + "00000002" + "7531"
    val golden: Seq[(Event, String)] = Seq(
      (Event("e", "User", "u1", EventType.InitClass, Payload.CreateArgs(Map("username" -> "u1"))),
        head + "00000000000100000008757365726e616d6509000000027531"),
      (Event("e", "User", "u1", EventType.GetState, Payload.AttrGet("balance")),
        head + "02010000000762616c616e6365"),
      (Event("e", "User", "u1", EventType.UpdateState, Payload.AttrSet("balance", 5L)),
        head + "04020000000762616c616e6365060000000000000005"),
      (Event("e", "User", "u1", EventType.SetState, Payload.StateSet(Map("balance" -> 7))),
        head + "0303000000010000000762616c616e63650500000007"),
      (Event("e", "User", "u1", EventType.InvokeStateful,
        Payload.MethodCall("update_balance", Map("x" -> 1.toShort))),
        head + "06040000000e7570646174655f62616c616e6365000000010000000178040001"),
      (Event("e", "User", "u1", EventType.EventFlow,
        Payload.FlowPayload(FlowState("User.buy_item", 2, Map("item" -> EntityRef("Item", "i1")),
          EntityRef("User", "u1")))),
        head + "08050000000d557365722e6275795f6974656d00000002000000010000000469" +
          "74656d0a000000044974656d0000000269310000000455736572000000027531"),
      (Event("e", "User", "u1", EventType.SuccessfulInvocation, Payload.Result(
        Vector(null, true, false, 1.toByte, 1.5f, 2.5, "s", Map("m" -> Vector())))),
        head + "0b060d000000080002010301073fc00000084004000000000000090000000173" +
          "0c00000001000000016d0d00000000"),
      (Event("e", "User", "u1", EventType.FailedInvocation, Payload.ErrorMsg("no")),
        head + "0f07000000026e6f"),
      (Event("e", "", "", EventType.Pong, Payload.Empty), "000000016500000000000000001008"))
    golden.foreach { case (ev, bytes) =>
      assert(hex(EventBinary.event.encode(ev)) === bytes, s"encoding of $ev")
    }
    val file: Seq[(Key, Option[State])] = Seq(
      ("User", "u1") -> Some(Map("balance" -> 5, "items" -> Vector(EntityRef("Item", "i1")))),
      ("Item", "i2") -> None)
    // format byte, entry count, then per entry its key and state flag
    assert(hex(EventBinary.changelog.encode(file)) ===
      "01" + "00000002" +
        "00000004557365720000000275310100000002" +
        "0000000762616c616e63650500000005" +
        "000000056974656d730d000000010a000000044974656d000000026931" +
        "000000044974656d00000002693200")
    // the tags no event above reaches: a type's tag is its position here
    assert(EventType.All.map(_.toString) === Seq(
      "InitClass", "FindClass", "GetState", "SetState", "UpdateState", "DeleteState",
      "InvokeStateful", "InvokeStateless", "EventFlow", "Ping",
      "SuccessfulCreateClass", "SuccessfulInvocation", "SuccessfulStateRequest",
      "FoundClass", "KeyNotFound", "FailedInvocation", "Pong"))
  }

  test("a value outside the set fails at encode time, naming its class") {
    def rejects(v: Any, what: String): Unit = {
      val e = intercept[CodecException] {
        EventBinary.event.encode(Event("e", "T", "k", EventType.SuccessfulInvocation, Payload.Result(v)))
      }
      assert(e.getMessage.contains(what), e.getMessage)
    }
    rejects(new java.io.File("/tmp/x"), "java.io.File")
    rejects(Array(1, 2), "[I")
    rejects(Set(1), "scala.collection.immutable.Set")
    rejects(Some(1), "scala.Some")
    rejects(BigInt(1), "scala.math.BigInt")
    rejects(Map(1 -> "a"), "map key not a String: 1 (java.lang.Integer)")
    rejects(Vector(Map("k" -> new Object)), "java.lang.Object")
    // UTF-8 has no form for an unpaired surrogate: refused, not replaced
    rejects("a\ud800b", "not valid Unicode")
    val text = Vector("why?", "\u00e9t\u00e9", "\ud83d\ude00", "")
    assert(EventBinary.event.decode(EventBinary.event.encode(
      Event("e?", "T", "k", EventType.SuccessfulInvocation, Payload.Result(text)))).payload === Payload.Result(text))
    intercept[CodecException](EventBinary.changelog.encode(Seq((("E", "k"), Some(Map("t" -> java.time.Instant.EPOCH))))))
  }

  // ---- hostile input ------------------------------------------------

  private def rejected(what: String)(decode: => Any): Unit =
    try { val v = decode; fail(s"$what decoded to $v") }
    catch { case _: CodecException => () }

  private def allDecoders(b: Array[Byte]): Seq[() => Any] = Seq(
    () => EventBinary.event.decode(b), () => EventBinary.changelog.decode(b),
    () => EventBinary.works.decode(b), () => EventBinary.results.decode(b))

  test("random byte strings are rejected") {
    val rnd = new scala.util.Random(3)
    (0 until 3000).foreach { i =>
      val b = Array.fill(rnd.nextInt(if (i % 10 == 0) 4096 else 64))(rnd.nextInt(256).toByte)
      allDecoders(b).foreach(d => rejected(s"random input $i")(d()))
    }
  }

  test("every truncation is rejected; every single-byte flip is rejected or decodes into the model") {
    val t0 = System.nanoTime()
    val valid = events.take(60).map(EventBinary.event.encode) ++
      Seq(EventBinary.changelog.encode(sample(genEntry, 5, 4L)))
    valid.zipWithIndex.foreach { case (b, i) =>
      val decode: Array[Byte] => Any = if (i < 60) EventBinary.event.decode else EventBinary.changelog.decode
      (0 until b.length).foreach(n => rejected(s"prefix $n of input $i")(decode(b.take(n))))
      // a flip inside a string or a number is another valid encoding;
      // anywhere else it must meet the codec's exception, nothing worse
      b.indices.foreach { at =>
        val f = b.clone()
        f(at) = (~f(at)).toByte
        try decode(f) catch { case _: CodecException => () }
      }
    }
    assert((System.nanoTime() - t0) / 1e9 < 60, "decoding hostile input must stay O(input)")
  }

  test("nesting is capped at 64 containers, on both sides") {
    def result(v: Any) = Event("e", "T", "k", EventType.SuccessfulInvocation, Payload.Result(v))
    def nested(n: Int): Any = (0 until n).foldLeft(null: Any)((v, _) => Vector(v))
    val flat = EventBinary.event.encode(result(null))
    val one = EventBinary.event.encode(result(Vector(null)))
    val header = one.slice(flat.length - 1, one.length - 1) // one Vector of one element
    def deep(n: Int) = flat.dropRight(1) ++ Array.fill(n)(header).flatten ++ flat.takeRight(1)
    assert(deep(64) sameElements EventBinary.event.encode(result(nested(64))))
    assert(EventBinary.event.decode(deep(64)) === result(nested(64)))
    rejected("65 deep")(EventBinary.event.decode(deep(65)))
    rejected("100000 deep")(EventBinary.event.decode(deep(100000)))
    intercept[CodecException](EventBinary.event.encode(result(nested(65))))
  }

  test("a count prefix of 2^31-1 on a 10-byte input is rejected before allocation") {
    val max = Array[Byte](0x7f, -1, -1, -1)
    val tail = Array.fill[Byte](5)(0)
    // an event id length, a changelog entry count, a work slice count
    rejected("string length")(EventBinary.event.decode(max ++ tail ++ Array[Byte](0)))
    rejected("entry count")(EventBinary.changelog.decode(Array[Byte](EventBinary.ChangelogFormat) ++ max ++ tail))
    rejected("work count")(EventBinary.works.decode(max ++ tail ++ Array[Byte](0)))
  }

  test("a Java serialization gadget stream is rejected, not deserialized") {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(new java.io.File("/tmp/gadget"))
    oos.close()
    allDecoders(bos.toByteArray).foreach(d => rejected("gadget")(d()))
    rejected("gadget line")(EventBinary.decode(java.util.Base64.getEncoder.encodeToString(bos.toByteArray)))
    rejected("not Base64")(EventBinary.decode("not base64 !"))
    rejected("trailing bytes")(EventBinary.event.decode(EventBinary.event.encode(events.head) :+ 0.toByte))
  }
}

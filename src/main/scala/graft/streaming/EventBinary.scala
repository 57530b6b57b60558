package graft.streaming

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import graft.flow.FlowState
import graft.model._
import graft.model.Types._
import StreamingEntityRuntime.{DrainOut, Key, Work}

/** The entity runtime's one binary codec: every byte
  * [[StreamingEntityRuntime]] writes or reads (ingress rows and lines,
  * drain-round slices and results, merges, the changelog). Values keep
  * their native types, as the reference's pickle keeps them between
  * workers (stateflow/serialization/pickle_serde.py); [[EventJson]] is
  * the client edge. The closed set: null, Boolean, Byte, Short, Int,
  * Long, Float, Double, String, [[EntityRef]], [[FlowState]], Maps with
  * String keys and Seqs (decoded as Vector); anything else fails at
  * encode time, naming its class. One walk per type, no back-references,
  * no reflection: a decoded value is O(input) and of the model. Decoding
  * checks every length and count against the bytes left before it
  * allocates, caps nesting at [[MaxDepth]], and rejects an unknown tag,
  * a truncation or trailing bytes with a [[CodecException]] at its offset.
  */
object EventBinary {
  final class CodecException(msg: String) extends RuntimeException(msg)

  /** Containers (maps, seqs, flow states) a value may nest. */
  val MaxDepth = 64
  /** First byte of a changelog file. */
  val ChangelogFormat: Byte = 1

  /** One walk per type: `write` appends an `A`, `read` consumes one. */
  final class Codec[A] private[EventBinary] (
      private[EventBinary] val write: (DataOutputStream, A) => Unit,
      private[EventBinary] val read: In => A) {
    def encode(a: A): Array[Byte] =
      { val bs = new ByteArrayOutputStream(256); write(new DataOutputStream(bs), a); bs.toByteArray }
    def decode(b: Array[Byte]): A =
      { val in = new In(b); val a = read(in); if (in.left > 0) in.fail(s"${in.left} trailing bytes") else a }
    private[EventBinary] def seq: Codec[Seq[A]] =
      new Codec((o, xs) => { o.writeInt(xs.size); xs.foreach(write(o, _)) }, in => Vector.fill(in.count())(read(in)))
  }

  private[EventBinary] final class In(b: Array[Byte]) {
    private val buf = ByteBuffer.wrap(b)
    private var pos = 0
    def left: Int = b.length - pos
    def fail(what: String): Nothing = throw new CodecException(s"$what at offset $pos")
    private def take(n: Int): Int = { if (n > left) fail(s"truncated: $n bytes needed, $left left"); pos += n; pos - n }
    def byte(): Byte = b(take(1))
    def short(): Short = buf.getShort(take(2))
    def int(): Int = buf.getInt(take(4))
    def long(): Long = buf.getLong(take(8))
    def float(): Float = buf.getFloat(take(4))
    def double(): Double = buf.getDouble(take(8))
    /** A length or an element count; an element takes at least one byte. */
    def count(): Int = { val n = int(); if (n < 0 || n > left) fail(s"count $n exceeds the $left bytes left"); n }
    def str(): String = { val n = count(); pos += n; new String(b, pos - n, n, UTF_8) }
    def flag(): Boolean = byte() match { case 0 => false; case 1 => true; case t => fail(s"bad flag $t") }
  }
  private def nest(depth: Int): Int = if (depth < MaxDepth) depth + 1 else throw new CodecException("nests too deep")
  private def str(o: DataOutputStream, s: String): Unit = {
    val u = s.getBytes(UTF_8)
    // an unpaired surrogate encodes as '?': refuse the string, never change it
    if (u.contains('?'.toByte) && new String(u, UTF_8) != s) throw new CodecException(s"not valid Unicode: $s")
    o.writeInt(u.length); o.write(u)
  }

  /** A value behind its one-byte tag (0 null, 1-2 Boolean, ..., 13 Seq). */
  private def writeValue(o: DataOutputStream, v: Any, depth: Int): Unit = v match {
    case null => o.writeByte(0)
    case b: Boolean => o.writeByte(if (b) 2 else 1)
    case b: Byte => o.writeByte(3); o.writeByte(b)
    case s: Short => o.writeByte(4); o.writeShort(s)
    case i: Int => o.writeByte(5); o.writeInt(i)
    case l: Long => o.writeByte(6); o.writeLong(l)
    case f: Float => o.writeByte(7); o.writeFloat(f)
    case d: Double => o.writeByte(8); o.writeDouble(d)
    case s: String => o.writeByte(9); str(o, s)
    case r: EntityRef => o.writeByte(10); str(o, r.entity); str(o, r.key)
    case fs: FlowState => o.writeByte(11); writeFlow(o, fs, nest(depth))
    case m: Map[_, _] => o.writeByte(12); writeMap(o, m, nest(depth))
    case xs: Seq[_] => val d = nest(depth); o.writeByte(13); o.writeInt(xs.size); xs.foreach(writeValue(o, _, d))
    case other => throw new CodecException(s"value not in the codec's set: $other (${other.getClass.getName})")
  }
  private def readValue(in: In, depth: Int): Any = in.byte() match {
    case 0 => null
    case 1 => false
    case 2 => true
    case 3 => in.byte()
    case 4 => in.short()
    case 5 => in.int()
    case 6 => in.long()
    case 7 => in.float()
    case 8 => in.double()
    case 9 => in.str()
    case 10 => EntityRef(in.str(), in.str())
    case 11 => readFlow(in, nest(depth))
    case 12 => readMap(in, nest(depth))
    case 13 => val n = in.count(); val d = nest(depth); Vector.fill(n)(readValue(in, d))
    case t => in.fail(s"unknown value tag $t")
  }

  /** Args, states and flow envs: String keys, values nested at `depth`. */
  private def writeMap(o: DataOutputStream, m: Map[_, _], depth: Int): Unit = {
    o.writeInt(m.size)
    m.foreach {
      case (k: String, v) => str(o, k); writeValue(o, v, depth)
      case (k, _) =>
        throw new CodecException(s"map key not a String: $k (${if (k == null) "null" else k.getClass.getName})")
    }
  }
  private def readMap(in: In, depth: Int): Map[String, Any] =
    { val n = in.count(); Map.from(Iterator.fill(n)(in.str() -> readValue(in, depth))) }

  private def writeFlow(o: DataOutputStream, fs: FlowState, depth: Int): Unit = {
    str(o, fs.templateId); o.writeInt(fs.current); writeMap(o, fs.env, depth)
    str(o, fs.self.entity); str(o, fs.self.key)
  }
  private def readFlow(in: In, depth: Int): FlowState =
    FlowState(in.str(), in.int(), readMap(in, depth), EntityRef(in.str(), in.str()))

  private def writeEvent(o: DataOutputStream, ev: Event): Unit = {
    str(o, ev.eventId); str(o, ev.entity); str(o, ev.key)
    o.writeByte(EventType.All.indexOf(ev.eventType))
    ev.payload match {
      case Payload.CreateArgs(args) => o.writeByte(0); writeMap(o, args, 1)
      case Payload.AttrGet(attr) => o.writeByte(1); str(o, attr)
      case Payload.AttrSet(attr, value) => o.writeByte(2); str(o, attr); writeValue(o, value, 0)
      case Payload.StateSet(state) => o.writeByte(3); writeMap(o, state, 1)
      case Payload.MethodCall(method, args) => o.writeByte(4); str(o, method); writeMap(o, args, 1)
      case Payload.FlowPayload(flow) => o.writeByte(5); writeFlow(o, flow, 1)
      case Payload.Result(value) => o.writeByte(6); writeValue(o, value, 0)
      case Payload.ErrorMsg(msg) => o.writeByte(7); str(o, msg)
      case Payload.Empty => o.writeByte(8)
    }
  }

  private def readEvent(in: In): Event =
    Event(in.str(), in.str(), in.str(), EventType.All.lift(in.byte()).getOrElse(in.fail("unknown event type")),
      in.byte() match {
        case 0 => Payload.CreateArgs(readMap(in, 1))
        case 1 => Payload.AttrGet(in.str())
        case 2 => Payload.AttrSet(in.str(), readValue(in, 0))
        case 3 => Payload.StateSet(readMap(in, 1))
        case 4 => Payload.MethodCall(in.str(), readMap(in, 1))
        case 5 => Payload.FlowPayload(readFlow(in, 1))
        case 6 => Payload.Result(readValue(in, 0))
        case 7 => Payload.ErrorMsg(in.str())
        case 8 => Payload.Empty
        case t => in.fail(s"unknown payload tag $t")
      })

  private def writeKey(o: DataOutputStream, k: Key): Unit = { str(o, k._1); str(o, k._2) }
  private def readKey(in: In): Key = (in.str(), in.str())
  private def writeState(o: DataOutputStream, s: Option[State]): Unit =
    { o.writeBoolean(s.isDefined); s.foreach(writeMap(o, _, 1)) }
  private def readState(in: In): Option[State] = if (in.flag()) Some(readMap(in, 1)) else None

  val event: Codec[Event] = new Codec(writeEvent, readEvent)
  private val events = event.seq

  /** A drain round's work for one store partition. */
  val works: Codec[Seq[Work]] = new Codec[Work](
    (o, w) => { writeKey(o, w.key); events.write(o, w.events) }, in => Work(readKey(in), events.read(in).toVector)).seq

  /** A drain round's per-key results. */
  val results: Codec[Seq[DrainOut]] = new Codec[DrainOut](
    (o, r) => { writeKey(o, r.key); events.write(o, r.out); writeState(o, r.state); o.writeBoolean(r.changed) },
    in => DrainOut(readKey(in), events.read(in), readState(in), in.flag())).seq

  private val entries = new Codec[(Key, Option[State])](
    (o, e) => { writeKey(o, e._1); writeState(o, e._2) }, in => (readKey(in), readState(in))).seq

  /** A changelog file or merge slice: [[ChangelogFormat]], then each
    * entry's key and new state, None when deleted.
    */
  val changelog: Codec[Seq[(Key, Option[State])]] = new Codec(
    (o, es) => { o.writeByte(ChangelogFormat); entries.write(o, es) },
    in => if (in.byte() == ChangelogFormat) entries.read(in) else in.fail("not a changelog"))

  /** One Base64 line per event: the durable file ingress's framing. */
  def encode(ev: Event): String = Base64.getEncoder.encodeToString(event.encode(ev))

  def decode(s: String): Event = event.decode(
    try Base64.getDecoder.decode(s)
    catch { case e: IllegalArgumentException => throw new CodecException(s"not Base64: ${e.getMessage}") })
}

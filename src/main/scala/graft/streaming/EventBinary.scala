package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputFilter, ObjectInputStream, ObjectOutputStream}
import java.util.Base64
import graft.model.Event

/** Type-preserving binary codec that frames the events of the durable
  * file ingress ([[StreamingEntityRuntime]]'s `fileInputDir`): one Base64
  * line per event, so the ingress stays a plain line-oriented text
  * source. Events must round-trip native types exactly, as the reference's
  * pickle does between workers (stateflow/serialization/pickle_serde.py
  * in the reference);
  * [[EventJson]] with its Python-JSON numeric model is the CLIENT
  * boundary format. Drain rounds inside a batch do not use this codec.
  *
  * Decoding runs under an [[ObjectInputFilter]] allowlist (graft model /
  * flow classes, Scala runtime, core JDK value types): anything that can
  * write to the ingress directory would otherwise get arbitrary-gadget
  * deserialization on executors.
  */
object EventBinary {

  /** Allowlist for the event graph: Event/EventType/Payload and flow
    * state (graft.*), Scala collections/boxing (scala.*), JDK value and
    * collection classes. Everything else is rejected before
    * instantiation; the depth/ref bounds stop billion-laughs graphs.
    */
  private val filter: ObjectInputFilter = ObjectInputFilter.Config.createFilter(
    "maxdepth=64;maxrefs=65536;graft.**;scala.**;java.lang.**;java.util.**;java.time.**;!*")

  def encode(ev: Event): String = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(ev)
    oos.close()
    Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  def decode(s: String): Event = {
    val ois = new ObjectInputStream(
      new ByteArrayInputStream(Base64.getDecoder.decode(s)))
    ois.setObjectInputFilter(filter)
    try ois.readObject().asInstanceOf[Event] finally ois.close()
  }
}

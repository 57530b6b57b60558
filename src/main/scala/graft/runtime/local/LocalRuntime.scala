package graft.runtime.local

import scala.collection.mutable
import graft.model._
import graft.model.Types._
import graft.runtime.{EventTransport, StatefulOperator}

/** Synchronous in-memory runtime — the semantics oracle for all scenario
  * tests, mirroring the reference's LocalRuntime
  * (/root/reference/stateflow/util/local_runtime.py:17-96): one event at
  * a time, state in a map keyed by (entity, key), continuations drained
  * to completion before the client reply is returned.
  *
  * The machine runs one request at a time under this runtime's lock, so
  * concurrent callers (threads sharing a [[graft.runtime.Client]], the
  * HTTP gateway) serialize here. Replies are computed eagerly at
  * `sendAsync` and stashed until taken: `drain` has nothing to do.
  */
final class LocalRuntime(registry: EntityRegistry) extends EventTransport {
  val store: mutable.Map[(String, String), State] = mutable.Map.empty
  private val handler = StatefulOperator.handle(registry) _
  private val stash = mutable.Map.empty[String, Event]

  override def sendAsync(evs: Seq[Event]): Unit =
    synchronized { evs.foreach(ev => stash(ev.eventId) = run(ev)) }
  override def drain(): Unit = ()
  override def takeReply(eventId: String): Option[Event] = synchronized { stash.remove(eventId) }

  /** Ingress + drain loop (IngressRouter/EgressRouter analog,
    * /root/reference/stateflow/dataflow/dataflow.py:52-210): route the
    * event to its keyed operator, apply the state transition, follow
    * internal continuations until a reply for the root event id appears.
    * Callers hold the lock.
    */
  private def run(root: Event): Event = {
    val queue = mutable.Queue(root)
    while (queue.nonEmpty) {
      val ev = queue.dequeue()
      ev.eventType match {
        case _: EventType.Reply =>
          if (ev.eventId == root.eventId) return ev
        // replies for other ids would go to other clients; impossible here
        case _: EventType.Request =>
          val k = (ev.entity, ev.key)
          val (out, newState) = handler(ev, store.get(k))
          newState match {
            case Some(s) => store(k) = s
            case None => store.remove(k)
          }
          queue.enqueueAll(out)
      }
    }
    throw new IllegalStateException(s"no reply produced for ${root.eventId}")
  }
}

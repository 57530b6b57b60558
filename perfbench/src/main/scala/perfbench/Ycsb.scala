package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.bench.YcsbBench.Zipf
import graft.flow.FlowRegistry
import graft.model._
import graft.runtime.StatefulOperator
import graft.runtime.local.LocalRuntime
import graft.streaming.{EventBinary, StreamingEntityRuntime}

/** Open-loop YCSB traffic against the streaming entity runtime.
  *
  * One generator thread sends every operation at its due time, whatever
  * the runtime does, and each operation's latency runs from its due time
  * to the moment its reply is seen, so a stall also charges the wait it
  * imposes on later operations. One fixed rate is measured for the whole
  * run, following a warm-up at the same rate without a pause.
  */
object Ycsb {

  /** @param limitMs latency limit on the measured phase's tail percentile */
  final case class Spec(name: String, keys: Int, rate: Int, limitMs: Double, transfer: Boolean)

  /** 50% read / 50% update over 100,000 keys: single-key read-modify-write,
    * no flow hops; ingress, state commit and reply egress do the work.
    */
  val A: Spec = Spec("ycsb-a", 100000, 1000, 2000, transfer = false)
  /** 100% transfer of 1 over 10,000 keys: two loopback hops per transfer,
    * so flow stepping, the loopback source and EventBinary do the work.
    */
  val T: Spec = Spec("ycsb-t", 10000, 200, 5000, transfer = true)

  val Start = 100
  private val Entity = "YCSBEntity"
  /** Batches stay slower for several seconds after the runtime starts
    * taking traffic; a shorter warm-up leaves that in the measured phase.
    */
  private val WarmSeconds = 8.0

  /** One generated operation: kind 0 read, 1 update (to `value`), 2 transfer
    * of 1 from `key` to `other`.
    */
  final case class Op(kind: Int, key: Int, other: Int, value: Int) {
    def line: String = s"$kind,$key,$other,$value"
  }

  def keyName(i: Int): String = s"k$i"

  /** The seeded operation stream; every draw comes from `seed`. */
  final class Gen(spec: Spec, seed: Long) {
    private val zipf = new Zipf(spec.keys, 0.99, seed)
    private val rnd = new scala.util.Random(seed ^ 0x5deece66dL)
    def next(): Op =
      if (spec.transfer) {
        val a = zipf.next()
        var b = zipf.next()
        while (b == a) b = zipf.next()
        Op(2, a, b, 1)
      } else if (rnd.nextBoolean()) Op(0, zipf.next(), -1, 0)
      else Op(1, zipf.next(), -1, rnd.nextInt(1000000))
  }

  def event(id: String, op: Op): Event = {
    val k = keyName(op.key)
    op.kind match {
      case 0 => Event(id, Entity, k, EventType.InvokeStateful, Payload.MethodCall("read", Map.empty))
      case 1 => Event(id, Entity, k, EventType.InvokeStateful,
        Payload.MethodCall("update", Map("new_value" -> op.value)))
      case _ => Event(id, Entity, k, EventType.EventFlow, Payload.FlowPayload(
        FlowRegistry.instantiate(s"$Entity.transfer", EntityRef(Entity, k),
          Map("transfer_amount" -> op.value, "other_entity" -> EntityRef(Entity, keyName(op.other))))))
    }
  }

  /** Operations of the run and what happened to each (times in ns
    * on the phase's own clock). Operations before `from` are its warm-up:
    * sent and checked, not measured.
    */
  final class Phase(val ops: Array[Op], val events: Array[Event], val rate: Double, val from: Int = 0) {
    val n: Int = ops.length
    val due: Array[Long] = Array.tabulate(n)(i => (i * 1e9 / rate).toLong)
    val sent = new Array[Long](n)
    val done = new Array[Long](n)
    val replies = new Array[Event](n)
    val backlog = mutable.ArrayBuffer.empty[(Double, Double)]
    var sendWindowNs = 0L
    /** Wall-clock time of the phase clock's zero. */
    var startEpochMs = 0L
    def measured: Range = from until n
    def latMs: Seq[Double] = measured.filter(done(_) > 0).map(i => (done(i) - due(i)) / 1e6)
    def lateMsMax: Double = measured.map(i => (sent(i) - due(i)) / 1e6).maxOption.getOrElse(0.0)
    def answered: Int = measured.count(done(_) > 0)
    /** Completions per second between the first and the last measured
      * reply: replies land a batch at a time, so the first batch only opens
      * the interval. Falls below the rate when the runtime falls behind.
      */
    def completionRate: Double = {
      val ds = measured.map(done).filter(_ > 0)
      if (ds.isEmpty) return 0.0
      val (first, last) = (ds.min, ds.max)
      if (last == first) ds.length / (sendWindowNs / 1e9)
      else ds.count(_ > first) / ((last - first) / 1e9)
    }
  }

  /** Send `p` on schedule and collect its replies; returns once every
    * operation is answered or `drainMs` after the last one was sent.
    */
  def drive(rt: StreamingEntityRuntime, p: Phase, tracer: Tracer, drainMs: Double): Unit = {
    val queued = new ConcurrentLinkedQueue[Integer]()
    @volatile var sending = true
    val t0 = System.nanoTime() + 2000000L
    p.startEpochMs = System.currentTimeMillis() + 2
    val collector = new Thread(() => {
      val pending = mutable.ArrayBuffer.empty[Int]
      var seen = rt.driverCollectedCount
      var answered = 0
      var lastSample = 0L
      var deadline = Long.MaxValue
      while (answered < p.n && System.nanoTime() < deadline) {
        var q = queued.poll()
        while (q != null) { pending += q.intValue; q = queued.poll() }
        val c = rt.driverCollectedCount
        if (c != seen) {
          seen = c
          val t = System.nanoTime() - t0
          pending.filterInPlace { i =>
            rt.takeReply(p.events(i).eventId) match {
              case Some(r) => p.replies(i) = r; p.done(i) = math.max(t, 1L); answered += 1; false
              case None => true
            }
          }
        }
        val now = System.nanoTime() - t0
        if (sending && now - lastSample >= 20000000L) {
          lastSample = now
          p.backlog += ((now / 1e9, (queued.size + pending.size).toDouble))
        }
        if (!sending && deadline == Long.MaxValue) deadline = System.nanoTime() + (drainMs * 1e6).toLong
        LockSupport.parkNanos(200000L)
      }
    }, "perfbench-collector")
    collector.setDaemon(true)
    collector.start()
    // Send whatever is due at most once per millisecond: the wait this adds
    // is inside each operation's due-time latency.
    var i = 0
    var lastSend = Long.MinValue
    while (i < p.n) {
      val now = System.nanoTime() - t0
      val wake = math.max(p.due(i), lastSend + 1000000L)
      if (now < wake) LockSupport.parkNanos(wake - now)
      else {
        var j = i
        while (j < p.n && p.due(j) <= now) j += 1
        val batch = (i until j).map(p.events(_))
        (i until j).foreach { k => queued.add(k); p.sent(k) = now }
        tracer.span("streaming.enqueue")(rt.sendAsync(batch))
        lastSend = now
        i = j
      }
    }
    p.sendWindowNs = System.nanoTime() - t0
    sending = false
    collector.join()
  }

  private def expectedReply(op: Op, r: Event, keyName: String): Boolean = (op.kind, r) match {
    case (0, Event(_, _, _, EventType.SuccessfulInvocation, Payload.Result(Seq(k, _: Int)))) => k == keyName
    case (1, Event(_, _, _, EventType.SuccessfulInvocation, _)) => true
    case (2, Event(_, _, _, EventType.SuccessfulInvocation, Payload.Result(_: Boolean))) => true
    case _ => false
  }

  /** Final `value` of each key, read through the runtime in one batch. */
  private def readValues(rt: StreamingEntityRuntime, keys: Seq[Int], tag: String): Map[Int, Any] = {
    val evs = keys.map(k => Event(s"$tag-$k", Entity, keyName(k), EventType.GetState, Payload.AttrGet("value")))
    rt.sendAsync(evs)
    rt.drain()
    keys.zip(evs).map { case (k, e) =>
      k -> (rt.takeReply(e.eventId) match {
        case Some(Event(_, _, _, EventType.SuccessfulStateRequest, Payload.Result(v))) => v
        case other => s"no value: $other"
      })
    }.toMap
  }

  private def createAll(rt: StreamingEntityRuntime, keys: Int, tag: String): Boolean = {
    val evs = (0 until keys).map(i => Event(s"$tag-c$i", Entity, keyName(i), EventType.InitClass,
      Payload.CreateArgs(Map("key" -> keyName(i), "value" -> Start))))
    rt.sendAsync(evs)
    rt.drain()
    evs.forall(e => rt.takeReply(e.eventId).exists(_.eventType == EventType.SuccessfulCreateClass))
  }

  def run(spec: Spec, spark: SparkSession, cfg: Main.Config, tracer: Tracer, jobs: JobStats): Outcome = {
    val out = new Outcome
    val registry = TestEntities.registry
    TestEntities.registerFlows()

    // The seeded op stream: warm-up, then the measured phase.
    val gen = new Gen(spec, cfg.seed)
    val nWarm = (spec.rate * WarmSeconds).toInt
    val nMeasured = math.max(1, spec.rate * cfg.seconds)
    val allOps = Array.fill(nWarm + nMeasured)(gen.next())
    out.note("op_digest", Json.str(Stats.digest(allOps.iterator.map(_.line))))
    val events = tracer.span("flow.instantiate.all") {
      allOps.zipWithIndex.map { case (op, i) => event(s"o$i", op) }
    }
    val phase = new Phase(allOps, events, spec.rate, from = nWarm)

    // Set-up: start the runtime and load every key.
    val rt = Setup.repeated(out, tracer) { r =>
      // a fresh directory: a checkpoint left by another run would resume
      // that run's offsets
      java.nio.file.Files.createDirectories(cfg.tmp)
      val ckpt = java.nio.file.Files.createTempDirectory(cfg.tmp, s"ckpt-$r-")
      val x = new StreamingEntityRuntime(registry, spark, checkpointDir = Some(ckpt.resolve("c").toString))
      out.check(s"setup $r creates every key", createAll(x, spec.keys, s"s$r"))
      x
    }(_.close())

    try {
      val collected0 = rt.driverCollectedCount
      val hops0 = rt.loopbackWrittenCount
      tracer.span("phase.measured")(drive(rt, phase, tracer, spec.limitMs * 3))
      out.setE2e("live_heap_mb", Metrics.liveHeapMb())
      val replies = rt.driverCollectedCount - collected0
      val hops = rt.loopbackWrittenCount - hops0
      // the first batch that started once the measured phase was due
      val measuredStartMs = phase.startEpochMs + phase.due(nWarm) / 1000000L
      val firstBatch = Progress.parse(rt.progressJson).filter(_.startEpochMs >= measuredStartMs)
        .map(_.batchId).minOption.getOrElse(Long.MaxValue)

      // Latency and throughput.
      val lat = Stats.summarize(phase.latMs)
      out.setE2e("p50_ms", lat.p50); out.setE2e("p99_ms", lat.tail)
      out.setE2e("throughput_ops_s", phase.completionRate)
      out.note("samples", lat.n.toString)
      out.note("tail_level", Json.num(lat.tailLevel))
      out.note("rate_ops_s", spec.rate.toString)
      out.note("latency_limit_ms", Json.num(spec.limitMs))

      // Failures: unanswered or wrong replies, and, when the tail misses
      // the latency limit, every operation beyond it.
      out.attempted = nMeasured
      var wrong = 0
      for (i <- 0 until phase.n if phase.done(i) > 0)
        if (!expectedReply(phase.ops(i), phase.replies(i), keyName(phase.ops(i).key))) wrong += 1
      val missing = nMeasured - phase.answered
      val late = if (lat.tail <= spec.limitMs) 0 else phase.latMs.count(_ > spec.limitMs)
      out.failed = wrong + missing + late
      out.check("warm-up answered", (0 until nWarm).forall(phase.done(_) > 0))
      out.check("every op answered", missing == 0, s"$missing of $nMeasured unanswered")
      out.check("replies have the expected type", wrong == 0, s"$wrong wrong replies")
      out.check("exactly one reply per op", replies == phase.n, s"$replies replies for ${phase.n} ops")

      // Per-layer: generator validity, hop and reply counts.
      out.setLayer("gen.late_ms_max", phase.lateMsMax)
      // over the second half of the measured phase: before that the
      // backlog also grows while the warm-up's operations are in flight
      val fromS = phase.due(nWarm) / 1e9
      val halfS = fromS + (phase.sendWindowNs / 1e9 - fromS) / 2
      out.setLayer("gen.backlog_slope_ops_s", Stats.slope(phase.backlog.toSeq.filter(_._1 >= halfS)))
      out.setLayer("streaming.hops_per_op", hops.toDouble / phase.n)
      out.setLayer("streaming.replies_per_op", replies.toDouble / phase.n)
      Progress.layerMetrics(rt.progressJson, firstBatch, out, tracer, jobs)

      // Output checks, outside the timed phases.
      val allKeys = 0 until spec.keys
      if (!spec.transfer) {
        val replay = new LocalRuntime(registry)
        allKeys.foreach(i => replay.send(Event(s"r-c$i", Entity, keyName(i), EventType.InitClass,
          Payload.CreateArgs(Map("key" -> keyName(i), "value" -> Start)))))
        events.foreach(replay.send)
        val touched = allOps.map(_.key).distinct.sorted.toSeq
        val got = readValues(rt, touched, "final")
        val bad = touched.filter(k => replay.store((Entity, keyName(k)))("value") != got(k))
        out.check("final state equals a LocalRuntime replay", bad.isEmpty,
          s"${bad.size} of ${touched.size} keys differ, e.g. ${bad.take(3).map(k => k -> got(k))}")
      } else {
        val got = readValues(rt, allKeys, "final")
        val vals = got.values.collect { case v: Int => v.toLong }
        out.check("every balance readable", vals.size == spec.keys, s"${vals.size} of ${spec.keys}")
        out.check("funds conserved", vals.sum == Start.toLong * spec.keys,
          s"sum ${vals.sum} != ${Start.toLong * spec.keys}")
        out.check("no negative balance", vals.forall(_ >= 0), s"min ${vals.minOption}")
      }
      if (tracer.enabled) codecAndReplay(spec, allOps, events, nWarm, out, tracer)
    } finally rt.close()
    out
  }

  /** Traced run only: the single-threaded LocalRuntime replay of the
    * measured ops (the runtime's own cost per op, no streaming), the
    * EventBinary cost of the run's continuation events, and FlowRegistry
    * instantiation per transfer.
    */
  private def codecAndReplay(spec: Spec, ops: Array[Op], events: Array[Event], nWarm: Int,
      out: Outcome, tracer: Tracer): Unit = {
    val registry = TestEntities.registry
    val replay = new LocalRuntime(registry)
    (0 until spec.keys).foreach(i => replay.send(Event(s"h-c$i", Entity, keyName(i), EventType.InitClass,
      Payload.CreateArgs(Map("key" -> keyName(i), "value" -> Start)))))
    val measured = events.drop(nWarm)
    val handleUs = tracer.span("runtime.replay")(Timing.perItemUs(measured)(replay.send))
    out.setLayer("runtime.handle_us_per_op", handleUs)
    if (spec.transfer) {
      val handle = StatefulOperator.handle(registry) _
      val conts = mutable.ArrayBuffer.empty[Event]
      measured.foreach { ev =>
        var frontier = Seq(ev)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap { e =>
            handle(e, Some(Map("key" -> e.key, "value" -> Start)))._1
              .filterNot(_.eventType.isInstanceOf[EventType.Reply])
          }
          conts ++= frontier
        }
      }
      out.setLayer("streaming.EventBinary.codec_us", tracer.span("streaming.EventBinary.codec") {
        Timing.perItemUs(conts.toArray)(e => EventBinary.decode(EventBinary.encode(e)))
      })
      val transfers = ops.drop(nWarm)
      out.setLayer("flow.instantiate_us", tracer.span("flow.instantiate") {
        Timing.perItemUs(transfers)(op => FlowRegistry.instantiate(s"$Entity.transfer",
          EntityRef(Entity, keyName(op.key)),
          Map("transfer_amount" -> op.value, "other_entity" -> EntityRef(Entity, keyName(op.other)))))
      })
    }
  }
}

object Timing {
  /** Mean microseconds per item of `f` over `items`, after one untimed
    * pass to warm the code path.
    */
  def perItemUs[A](items: Array[A])(f: A => Any): Double = {
    if (items.isEmpty) return 0.0
    var sink = 0
    items.foreach(a => sink ^= System.identityHashCode(f(a)))
    val t0 = System.nanoTime()
    items.foreach(a => sink ^= System.identityHashCode(f(a)))
    val us = (System.nanoTime() - t0) / 1e3 / items.length
    if (sink == 42) System.err.print("")
    us
  }
}

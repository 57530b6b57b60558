package graft

import graft.flow.FlowRegistry
import graft.model.{EntityRef, Event, EventType, Payload, TestEntities}
import graft.runtime.{Client, EventTransport}
import graft.runtime.local.LocalRuntime
import graft.streaming.StreamingEntityRuntime

/** The S1-S11 scenario gate on the DURABLE configuration of the draining
  * lowering (client events through the file ingress, streaming checkpoint
  * plus a per-batch state changelog), plus the properties draining exists
  * for: a multi-hop flow completes in ONE micro-batch, a round cap spills
  * to the next batch, and state survives restarts and compaction through
  * the changelog. [[StreamingEntitySpec]] runs the same gate in memory.
  */
class DrainingEntitySpec extends EntityScenarios with SparkSpec {

  private var open: List[StreamingEntityRuntime] = Nil

  private def track(rt: StreamingEntityRuntime): StreamingEntityRuntime = { open ::= rt; rt }

  override def freshTransport(): EventTransport =
    durable(java.nio.file.Files.createTempDirectory("graft-drain"))

  override def withFixture(test: NoArgTest) = {
    try super.withFixture(test)
    finally { open.foreach(_.close()); open = Nil }
  }

  /** A durable runtime over fresh (or the given) checkpoint + ingress dirs. */
  private def durable(base: java.nio.file.Path): StreamingEntityRuntime =
    track(new StreamingEntityRuntime(TestEntities.registry, spark,
      checkpointDir = Some(base.resolve("ckpt").toString),
      fileInputDir = Some(base.resolve("in").toString)))

  private def changelogEntries(base: java.nio.file.Path): Seq[String] =
    Option(base.resolve("ckpt-state").toFile.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("delta-") || n.startsWith("snap-")).toSeq.sorted

  private def restart(rt: StreamingEntityRuntime, base: java.nio.file.Path): StreamingEntityRuntime = {
    rt.close()
    open = open.filterNot(_ eq rt)
    durable(base)
  }

  test("a two-entity split flow completes in ONE micro-batch") {
    val (rtT, c) = fresh()
    val rt = rtT.asInstanceOf[StreamingEntityRuntime]
    val Right(u) = c.create("User", Map("username" -> "drainer"))
    val Right(it) = c.create("Item", Map("item_name" -> "drain-item", "price" -> 5))
    c.call(u, "update_balance", Map("x" -> 20))
    c.call(it, "update_stock", Map("amount" -> 4))
    val batchesBefore = rt.busyBatches.size
    val hopsBefore = rt.loopbackWrittenCount
    val repliesBefore = rt.driverCollectedCount
    assert(c.call(u, "buy_item", Map("amount" -> 3, "item" -> it)) === true)
    // the flow's inter-entity hops drained inside the batch...
    assert(rt.loopbackWrittenCount > hopsBefore, "buy_item hops must drain in-batch")
    // ...so exactly one non-empty micro-batch carried the whole flow
    assert(rt.busyBatches.size - batchesBefore === 1,
      s"flow should complete in one batch, saw ${rt.busyBatches.size - batchesBefore}")
    // and exactly one client-facing reply crossed to the driver
    assert(rt.driverCollectedCount - repliesBefore === 1L)
    assert(c.getAttr(u, "balance") === 5)
    assert(c.getAttr(it, "stock") === 1)
  }

  test("round cap: events past maxDrainRounds spill to the next batch, flow still completes") {
    // cap 1: round 0 processes the client event, its first continuation
    // must spill and complete in a later batch
    val rt = track(new StreamingEntityRuntime(TestEntities.registry, spark, maxDrainRounds = 1))
    val c = new Client(TestEntities.registry, rt)
    val Right(u) = c.create("User", Map("username" -> "capped"))
    val Right(it) = c.create("Item", Map("item_name" -> "cap-item", "price" -> 5))
    c.call(u, "update_balance", Map("x" -> 20))
    c.call(it, "update_stock", Map("amount" -> 4))
    val batchesBefore = rt.busyBatches.size
    assert(c.call(u, "buy_item", Map("amount" -> 3, "item" -> it)) === true)
    assert(rt.busyBatches.size - batchesBefore > 1, "a capped flow must span batches")
    assert(c.getAttr(u, "balance") === 5)
    assert(c.getAttr(it, "stock") === 1)
  }

  test("durable stateDir: a restarted runtime replays the changelog, tombstones included") {
    val dir = java.nio.file.Files.createTempDirectory("graft-durable")
    val rt1 = durable(dir)
    val c1 = new Client(TestEntities.registry, rt1)
    val Right(u) = c1.create("User", Map("username" -> "durable"))
    c1.call(u, "update_balance", Map("x" -> 37))
    val Right(gone) = c1.create("User", Map("username" -> "deleted-one"))
    assert(rt1.send(Event("d1", gone.entity, gone.key,
      EventType.DeleteState, Payload.Empty)).eventType === EventType.SuccessfulStateRequest)
    // cold restart on the same dirs
    val rt2 = restart(rt1, dir)
    val c2 = new Client(TestEntities.registry, rt2)
    assert(c2.getAttr(u, "balance") === 37, "committed state must survive restart")
    // the delete's tombstone replays too: the newest row per key wins
    assert(rt2.send(Event("g1", gone.entity, gone.key,
      EventType.GetState, Payload.AttrGet("username"))).eventType === EventType.KeyNotFound)
    c2.call(u, "update_balance", Map("x" -> -7))
    assert(c2.getAttr(u, "balance") === 30)
    // compaction folds the deltas into ONE snapshot of the live rows;
    // a third cold restart restores the identical state from it
    rt2.compactChangelog()
    assert(changelogEntries(dir).size === 1, s"compaction must leave one entry: ${changelogEntries(dir)}")
    assert(changelogEntries(dir).head.startsWith("snap-"))
    val rt3 = restart(rt2, dir)
    val c3 = new Client(TestEntities.registry, rt3)
    assert(c3.getAttr(u, "balance") === 30, "compacted changelog must restore")
    assert(rt3.send(Event("g2", gone.entity, gone.key,
      EventType.GetState, Payload.AttrGet("username"))).eventType === EventType.KeyNotFound,
      "compaction must not resurrect deleted keys")
  }

  test("restart then IMMEDIATE compaction: store survives without a prior probe") {
    // the restored store reads the changelog lazily; compacting before
    // any probe must not leave it reading the entries it deleted
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-cold")
    val rt1 = durable(dir)
    val c1 = new Client(TestEntities.registry, rt1)
    val Right(u) = c1.create("User", Map("username" -> "cold-compact"))
    c1.call(u, "update_balance", Map("x" -> 12))
    val rt2 = restart(rt1, dir)
    rt2.compactChangelog() // NO probe between restart and compaction
    assert(changelogEntries(dir).size === 1)
    val c2 = new Client(TestEntities.registry, rt2)
    assert(c2.getAttr(u, "balance") === 12,
      "state access after restart+compact must not read deleted entries")
    c2.call(u, "update_balance", Map("x" -> 3))
    assert(c2.getAttr(u, "balance") === 15)
  }

  test("read-only traffic appends no changelog deltas") {
    val dir = java.nio.file.Files.createTempDirectory("graft-readonly")
    val rt = durable(dir)
    val c = new Client(TestEntities.registry, rt)
    val Right(u) = c.create("User", Map("username" -> "reader"))
    c.call(u, "update_balance", Map("x" -> 9))
    val before = changelogEntries(dir)
    (1 to 5).foreach { _ => assert(c.getAttr(u, "balance") === 9) }
    assert(changelogEntries(dir) === before,
      "GetState-only batches must not grow the durable changelog")
  }

  test("state survives batches, deletes tombstone, compaction preserves both") {
    val (rtT, c) = fresh()
    val rt = rtT.asInstanceOf[StreamingEntityRuntime]
    // enough merging batches to cross a lineage cut (every CompactEvery)
    val refs = (0 until StreamingEntityRuntime.CompactEvery + 4).map { i =>
      val Right(r) = c.create("User", Map("username" -> s"u$i"))
      c.call(r, "update_balance", Map("x" -> i)): Unit
      r
    }
    refs.zipWithIndex.foreach { case (r, i) =>
      assert(c.getAttr(r, "balance") === i, s"state for u$i lost across batches")
    }
    // delete u0; a later read must see KeyNotFound, not a stale row
    val del = Event("del-u0", refs.head.entity, refs.head.key, EventType.DeleteState, Payload.Empty)
    assert(rtT.send(del).eventType === EventType.SuccessfulStateRequest)
    val get = Event("get-u0", refs.head.entity, refs.head.key, EventType.GetState, Payload.AttrGet("balance"))
    assert(rtT.send(get).eventType === EventType.KeyNotFound)
    // re-create with the same args (same derived key) succeeds only if
    // the tombstone really removed the row
    val Right(re) = c.create("User", Map("username" -> "u0"))
    assert(re.key === refs.head.key)
    assert(rt.driverCollectedCount > 0)
  }

  // ---- where drain rounds run: jobs per batch ----

  private val Ycsb = "YCSBEntity"

  private def ycsbCreate(k: String) = Event(s"c-$k", Ycsb, k, EventType.InitClass,
    Payload.CreateArgs(Map("key" -> k, "value" -> 100)))

  private def transfer(id: String, from: String, to: String) = {
    TestEntities.registerFlows()
    Event(id, Ycsb, from, EventType.EventFlow, Payload.FlowPayload(
      FlowRegistry.instantiate(s"$Ycsb.transfer", EntityRef(Ycsb, from),
        Map("transfer_amount" -> 1, "other_entity" -> EntityRef(Ycsb, to)))))
  }

  /** A fresh in-memory runtime with `keys` created (in their own batch). */
  private def ycsbRuntime(keys: Seq[String]): StreamingEntityRuntime = {
    val rt = track(new StreamingEntityRuntime(TestEntities.registry, spark))
    rt.sendAsync(keys.map(ycsbCreate))
    rt.drain()
    rt
  }

  /** Send `evs` at once and drain them: the jobs Spark started meanwhile,
    * and the replies. Asserts they formed one micro-batch of exactly
    * those input rows.
    */
  private def oneBatch(rt: StreamingEntityRuntime, evs: Seq[Event]): (Int, Seq[Event]) = {
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(s"job ${js.jobId}")): Unit
    }
    val sc = spark.sparkContext
    val batchesBefore = rt.busyBatches.size
    sc.addSparkListener(listener)
    try {
      rt.sendAsync(evs)
      rt.drain()
      // the listener bus delivers in order: once a marker job's start
      // arrives, every job the batch started has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count(): Unit
      finally sc.setJobDescription(null)
      var spins = 0
      while (!jobs.contains(marker) && spins < 400) { Thread.sleep(25); spins += 1 }
      assert(jobs.contains(marker), "the listener bus did not deliver the marker job")
      assert(rt.busyBatches.size - batchesBefore === 1, "the events must form one micro-batch")
      val batchId = rt.busyBatches.last._1
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      assert(rt.progressJson.map(mapper.readTree).filter(_.get("batchId").asLong == batchId)
        .map(_.get("numInputRows").asLong) === Seq(evs.size.toLong))
      (jobs.size - 1, evs.map(e => rt.takeReply(e.eventId).getOrElse(fail(s"no reply for ${e.eventId}"))))
    } finally sc.removeSparkListener(listener)
  }

  private val pairs = (0 until 8).map(i => (s"jp$i", s"jq$i"))

  test("jobs per batch: transfers over distinct keys run 2 jobs, one per round that reads the store") {
    // a transfer hops a -> b -> a: round 0 reads the payers, round 1 the
    // payees, round 2 answers on payers round 0 returned, so it runs on
    // the driver; the in-memory input needs no job
    val rt = ycsbRuntime(pairs.flatMap { case (a, b) => Seq(a, b) })
    val (jobs, replies) = oneBatch(rt, pairs.map { case (a, b) => transfer(s"jt-$a", a, b) })
    assert(jobs === 2, s"a batch of distinct-key transfers ran $jobs jobs")
    assert(replies.forall(_.payload == Payload.Result(true)), replies)
  }

  test("jobs per batch: single-key updates run 1 job") {
    val keys = pairs.map(_._1)
    val rt = ycsbRuntime(keys)
    // two updates then a read per key: the read sees the second update
    // only if the batch keeps send order
    val ops = keys.flatMap { k =>
      Seq(7, 8).map(v => Event(s"ju-$k-$v", Ycsb, k, EventType.InvokeStateful,
        Payload.MethodCall("update", Map("new_value" -> v)))) :+
        Event(s"jr-$k", Ycsb, k, EventType.InvokeStateful, Payload.MethodCall("read", Map.empty))
    }
    val (jobs, replies) = oneBatch(rt, ops)
    assert(jobs === 1, s"a batch of single-key updates ran $jobs jobs")
    val local = new LocalRuntime(TestEntities.registry)
    keys.foreach(k => local.send(ycsbCreate(k)))
    assert(replies.map(_.payload) === ops.map(op => local.send(op).payload))
  }

  test("overlapping transfers in one batch: rounds split between driver and executors, same as a LocalRuntime") {
    // the cycle x0 -> x1 -> x2 -> x0 plus x0 -> x4 and x3 -> x5: round 1
    // runs x0..x2 (returned by round 0) on the driver and x4, x5 (never
    // read yet) in a job; round 2 answers on known payers only
    val keys = (0 until 6).map(i => s"x$i")
    val ops = Seq((0, 1), (1, 2), (2, 0), (0, 4), (3, 5)).zipWithIndex.map { case ((a, b), i) =>
      transfer(s"ov-$i", keys(a), keys(b))
    }
    val rt = ycsbRuntime(keys)
    val (jobs, replies) = oneBatch(rt, ops)
    assert(jobs === 2, s"round 0 and round 1 read store rows, round 2 none: saw $jobs jobs")
    val local = new LocalRuntime(TestEntities.registry)
    keys.foreach(k => local.send(ycsbCreate(k)))
    assert(replies.map(_.payload) === ops.map(op => local.send(op).payload))
    val reads = keys.map(k => Event(s"ov-read-$k", Ycsb, k, EventType.GetState, Payload.AttrGet("value")))
    rt.sendAsync(reads)
    rt.drain()
    assert(reads.map(r => rt.takeReply(r.eventId).map(_.payload)) ===
      keys.map(k => Some(Payload.Result(local.store((Ycsb, k))("value")))))
  }
}

package graft

import graft.model.{Event, EventType, Payload, TestEntities}
import graft.runtime.{Client, EventTransport}
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
}

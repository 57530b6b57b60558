package graft

import java.nio.file.{Files, Path}
import graft.flow.FlowRegistry
import graft.model.{EntityRef, Event, EventType, Payload, TestEntities}
import graft.runtime.Client
import graft.runtime.local.LocalRuntime
import graft.streaming.{EventBinary, StreamingEntityRuntime}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Durability gate: entity state survives a full runtime restart when
  * the sources are replayable (file ingress) and the checkpoint dir is
  * stable — the property the reference gets from Kafka offsets +
  * runtime state backends, here from the streaming checkpoint plus the
  * runtime's per-batch state changelog. MemoryStream cannot provide this
  * (its data dies with the query), so this spec runs the file-ingress
  * mode; production swaps in Kafka with the same topology.
  */
class CheckpointRecoverySpec extends SparkSpec {

  test("entity state survives a runtime restart from the checkpoint") {
    val base = Files.createTempDirectory("graft-recovery")
    val ckpt = base.resolve("ckpt").toString
    val in = base.resolve("in").toString

    // life 1: create + mutate state, then stop the runtime
    val rt1 = new StreamingEntityRuntime(TestEntities.registry, spark,
      checkpointDir = Some(ckpt), fileInputDir = Some(in))
    val c1 = new Client(TestEntities.registry, rt1)
    val Right(u) = c1.create("User", Map("username" -> "phoenix"))
    c1.call(u, "update_balance", Map("x" -> 42))
    assert(c1.getAttr(u, "balance") === 42)
    rt1.close()

    // life 2: a NEW runtime over the same checkpoint + ingress dirs
    // resumes the state — the balance written before the restart must
    // be visible, and further mutations must build on it
    val rt2 = new StreamingEntityRuntime(TestEntities.registry, spark,
      checkpointDir = Some(ckpt), fileInputDir = Some(in))
    try {
      val c2 = new Client(TestEntities.registry, rt2)
      assert(c2.getAttr(u, "balance") === 42)
      c2.call(u, "update_balance", Map("x" -> 8))
      assert(c2.getAttr(u, "balance") === 50)
      // duplicate create must still fail: key existence is state too
      assert(c2.create("User", Map("username" -> "phoenix")).isLeft)
    } finally rt2.close()
  }

  // ---- the restart gate for flows: ycsb-t transfers across a restart ----

  private val Entity = "YCSBEntity"
  private val Keys = 50
  private val Start = 100

  private def key(i: Int) = s"k$i"

  /** 200 seeded transfers of 1 between distinct keys. */
  private def transfers(tag: String): Seq[Event] = {
    TestEntities.registerFlows()
    val rnd = new scala.util.Random(7)
    (0 until 200).map { i =>
      val a = rnd.nextInt(Keys)
      val b = (a + 1 + rnd.nextInt(Keys - 1)) % Keys
      Event(s"$tag-t$i", Entity, key(a), EventType.EventFlow, Payload.FlowPayload(
        FlowRegistry.instantiate(s"$Entity.transfer", EntityRef(Entity, key(a)),
          Map("transfer_amount" -> 1, "other_entity" -> EntityRef(Entity, key(b))))))
    }
  }

  /** Balances after the ops on a LocalRuntime, the serial oracle. */
  private def oracle(ops: Seq[Event]): Map[String, Any] = {
    val rt = new LocalRuntime(TestEntities.registry)
    (0 until Keys).foreach(i => rt.send(create(i, "o")))
    ops.foreach(rt.send)
    (0 until Keys).map(i => key(i) -> rt.store((Entity, key(i)))("value")).toMap
  }

  private def create(i: Int, tag: String) = Event(s"$tag-c$i", Entity, key(i), EventType.InitClass,
    Payload.CreateArgs(Map("key" -> key(i), "value" -> Start)))

  private def balances(rt: StreamingEntityRuntime): Map[String, Any] = {
    val reads = (0 until Keys).map(i =>
      Event(s"read-$i", Entity, key(i), EventType.GetState, Payload.AttrGet("value")))
    rt.sendAsync(reads)
    rt.drain()
    reads.map { r =>
      r.key -> (rt.takeReply(r.eventId) match {
        case Some(Event(_, _, _, EventType.SuccessfulStateRequest, Payload.Result(v))) => v
        case other => s"no value: $other"
      })
    }.toMap
  }

  /** Write events into the ingress dir while no runtime runs, the way a
    * producer keeps appending to the topic.
    */
  private def produce(in: Path, name: String, evs: Seq[Event]): Unit = {
    val staged = in.resolve("." + name)
    Files.write(staged, evs.map(EventBinary.encode).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(staged, in.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  /** Life 1 takes the first 100 transfers, sent in groups of 10 without
    * waiting, and is closed with them in flight; 50 more land in the
    * ingress while no runtime runs; life 2, on the same dirs, takes the
    * last 50. `betweenLives` runs on the dirs after life 1 stops.
    * Returns the ops, each op's replies over both lives, and the final
    * balances.
    */
  private def twoLives(tag: String)(betweenLives: (Path, Path) => Unit)
      : (Seq[Event], Map[String, Seq[Event]], Map[String, Any]) = {
    val base = Files.createTempDirectory(s"graft-restart-$tag")
    val (ckpt, in) = (base.resolve("ckpt"), base.resolve("in"))
    def life() = new StreamingEntityRuntime(TestEntities.registry, spark,
      checkpointDir = Some(ckpt.toString), fileInputDir = Some(in.toString))
    val ops = transfers(tag)
    val rt1 = life()
    val creates = (0 until Keys).map(create(_, tag))
    rt1.sendAsync(creates)
    rt1.drain()
    assert(creates.forall(e => rt1.takeReply(e.eventId).exists(_.eventType == EventType.SuccessfulCreateClass)))
    ops.take(100).grouped(10).foreach(rt1.sendAsync)
    rt1.close()
    def taken(rt: StreamingEntityRuntime) =
      ops.flatMap(o => rt.takeReply(o.eventId).map(o.eventId -> _))
    val first = taken(rt1)
    betweenLives(ckpt, in)
    produce(in, "offline-0.txt", ops.slice(100, 150))
    val rt2 = life()
    try {
      ops.drop(150).grouped(10).foreach(rt2.sendAsync)
      rt2.drain()
      val replies = (first ++ taken(rt2)).groupMap(_._1)(_._2)
      (ops, replies, balances(rt2))
    } finally rt2.close()
  }

  private def assertConsistent(ops: Seq[Event], got: Map[String, Any]): Unit = {
    val vals = got.values.collect { case v: Int => v.toLong }
    assert(vals.size === Keys, s"unreadable balances: $got")
    assert(vals.sum === Start.toLong * Keys, "funds must be conserved")
    assert(vals.forall(_ >= 0), "no negative balance")
    // conservation alone cannot see a transfer applied twice
    assert(got === oracle(ops), "each transfer must be applied exactly once")
  }

  private def transferOk(r: Event): Boolean =
    r.eventType == EventType.SuccessfulInvocation && r.payload == Payload.Result(true)

  private def assertOneReplyEach(ops: Seq[Event], replies: Map[String, Seq[Event]]): Unit =
    ops.foreach { o =>
      val rs = replies.getOrElse(o.eventId, Nil)
      assert(rs.size === 1, s"${o.eventId} answered ${rs.size} times")
      assert(transferOk(rs.head), s"${o.eventId}: ${rs.head}")
    }

  test("restart gate: transfers across a close/restart, funds conserved, one reply per op") {
    val (ops, replies, got) = twoLives("a")((_, _) => ())
    assertOneReplyEach(ops, replies)
    assertConsistent(ops, got)
  }

  test("restart gate: a batch replayed after its lost commit is applied once") {
    var replayed = -1L
    val (ops, replies, got) = twoLives("b") { (ckpt, _) =>
      // a crash after the batch's changelog write, before its commit:
      // drop the newest commit entry, so the next life replays it
      val commits = ckpt.resolve("commits")
      replayed = commits.toFile.list().filter(_.forall(_.isDigit)).map(_.toLong).max
      assert(Files.exists(ckpt.resolveSibling("ckpt-state").resolve(f"delta-$replayed%012d")),
        "the dropped batch must have written its changelog delta")
      Files.delete(commits.resolve(replayed.toString))
      Files.deleteIfExists(commits.resolve(s".$replayed.crc")): Unit
    }
    assert(replayed >= 0)
    // across a crash replies are at-least-once: the replayed batch
    // answers its ops again, with the same values
    ops.foreach { o =>
      val rs = replies.getOrElse(o.eventId, Nil)
      assert(rs.nonEmpty, s"${o.eventId} unanswered")
      assert(rs.forall(transferOk), s"${o.eventId}: $rs")
    }
    assert(replies.values.exists(_.size == 2), "the dropped batch must have been replayed")
    assertConsistent(ops, got)
  }

  test("restart gate: a checkpoint Spark's default file manager wrote restarts under the runtime's own") {
    val key = StreamingEntityRuntime.CheckpointFileManagerConf
    def ids(commits: Path): Set[String] = commits.toFile.list().filter(_.forall(_.isDigit)).toSet
    var commits: Path = null
    var life1 = Set.empty[String]
    // life 1 writes its logs through Hadoop, each entry with a `.crc`
    val (ops, replies, got) = withSessionConf(key, Some(classOf[FileContextBasedCheckpointFileManager].getName)) {
      twoLives("c") { (ckpt, _) =>
        commits = ckpt.resolve("commits")
        life1 = ids(commits)
        assert(life1.nonEmpty && life1.forall(b => Files.exists(commits.resolve(s".$b.crc"))))
        spark.conf.unset(key) // life 2 installs the runtime's manager
      }
    }
    assertOneReplyEach(ops, replies)
    assertConsistent(ops, got)
    val life2 = ids(commits) -- life1
    assert(life2.nonEmpty, "life 2 must have committed batches")
    assert(life2.forall(b => !Files.exists(commits.resolve(s".$b.crc"))), "life 2 writes no checksum files")
  }

  test("file ingress: sends that share a batch are applied in send order") {
    val base = Files.createTempDirectory("graft-ingress-order")
    val (ckpt, in) = (base.resolve("ckpt").toString, base.resolve("in").toString)
    def life() = new StreamingEntityRuntime(TestEntities.registry, spark,
      checkpointDir = Some(ckpt), fileInputDir = Some(in))
    def op(id: String, method: String, args: Map[String, Any]) =
      Event(s"ord-$id", Entity, key(0), EventType.InvokeStateful, Payload.MethodCall(method, args))
    val made = create(0, "ord")
    // a 1-event send, then a larger 3-event send: the replies of the
    // reads and the final value depend on which is applied first
    val first = Seq(op("u1", "update", Map("new_value" -> 1)))
    val second = Seq(op("r1", "read", Map.empty), op("u2", "update", Map("new_value" -> 2)),
      op("r2", "read", Map.empty))
    val rt1 = life()
    rt1.sendAsync(Seq(made))
    rt1.drain()
    rt1.close()
    // both sends reach the ingress while no runtime runs, so the next
    // life reads them in one batch
    rt1.sendAsync(first)
    rt1.sendAsync(second)
    val rt2 = life()
    val (got, value, batches) = try {
      rt2.drain()
      val got = (first ++ second).map(e => e.eventId -> rt2.takeReply(e.eventId).map(_.payload)).toMap
      val read = rt2.send(Event("ord-final", Entity, key(0), EventType.GetState, Payload.AttrGet("value")))
      (got, read.payload, rt2.busyBatches.size)
    } finally rt2.close()
    assert(batches === 2, "the two sends must share one batch (then one for the final read)")

    val local = new LocalRuntime(TestEntities.registry)
    local.send(made)
    val want = (first ++ second).map(e => e.eventId -> Some(local.send(e).payload)).toMap
    assert(got === want, "replies must equal a send-order replay")
    assert(value === Payload.Result(local.store((Entity, key(0)))("value")))
    assert(value === Payload.Result(2))
  }

  /** A Java-serialized `java.io.File`: the classic gadget shape. */
  private def gadgetLine(): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(new java.io.File("/tmp/gadget"))
    oos.close()
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  test("poison ingress lines are skipped and counted; the rest applies in send order, and restarts serve") {
    val base = Files.createTempDirectory("graft-poison")
    val (ckpt, in) = (base.resolve("ckpt").toString, base.resolve("in"))
    def life() = new StreamingEntityRuntime(TestEntities.registry, spark,
      checkpointDir = Some(ckpt), fileInputDir = Some(in.toString))
    val made = create(0, "poison")
    val update = Event("poison-u", Entity, key(0), EventType.InvokeStateful,
      Payload.MethodCall("update", Map("new_value" -> 7)))
    val read = Event("poison-r", Entity, key(0), EventType.InvokeStateful, Payload.MethodCall("read", Map.empty))
    val rt1 = life()
    try assert(rt1.send(made).eventType === EventType.SuccessfulCreateClass) finally rt1.close()
    // while no runtime runs: a send, a garbage line, a gadget line, a send
    val lines = Seq(EventBinary.encode(update), "not an event %%%", gadgetLine(), EventBinary.encode(read))
    Files.write(in.resolve("offline-0.txt"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))

    val local = new LocalRuntime(TestEntities.registry)
    local.send(made)
    val want = Seq(update, read).map(e => e.eventId -> Some(local.send(e)))
    val rt2 = life()
    try {
      rt2.drain()
      assert(Seq(update, read).map(e => e.eventId -> rt2.takeReply(e.eventId)) === want)
      assert(rt2.rejectedInputCount === 2)
    } finally rt2.close()
    val rt3 = life()
    try {
      val r = rt3.send(Event("poison-r2", Entity, key(0), EventType.GetState, Payload.AttrGet("value")))
      assert(r.payload === Payload.Result(7))
      assert(rt3.rejectedInputCount === 0, "a committed batch's poison lines are not replayed")
    } finally rt3.close()
  }

  test("a changelog written by Java serialization is refused at start, naming the format") {
    val base = Files.createTempDirectory("graft-old-changelog")
    val ckpt = base.resolve("ckpt")
    // the earlier format: one ObjectOutputStream of the batch's entries,
    // for a batch the checkpoint committed
    Files.createDirectories(ckpt.resolve("commits"))
    Files.write(ckpt.resolve("commits").resolve("0"), "v1\n{}".getBytes("UTF-8"))
    val state = Files.createDirectories(ckpt.resolveSibling("ckpt-state"))
    val oos = new java.io.ObjectOutputStream(Files.newOutputStream(state.resolve(f"delta-${0}%012d")))
    oos.writeObject(Array(((Entity, key(0)), Option(Map[String, Any]("value" -> 1)))))
    oos.close()
    val e = intercept[IllegalStateException] {
      new StreamingEntityRuntime(TestEntities.registry, spark, checkpointDir = Some(ckpt.toString),
        fileInputDir = Some(base.resolve("in").toString))
    }
    assert(e.getMessage.contains("Java serialization stream"), e.getMessage)
  }
}
